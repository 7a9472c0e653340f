package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable.withScalar

/** CORPUS-QUALITY STRATIFICATION beyond the per-document scores
  * (q22/q94/q216): the analyses that place each document RELATIVE to
  * the corpus — CCNet's perplexity terciles and n-gram novelty.
  */
object Quality extends graft.Module {

  /** q224: CCNET HEAD/MIDDLE/TAIL BUCKETS — the split the q94
    * surprisal score exists to feed (CCNet buckets a crawl by LM
    * perplexity and trains preferentially on head+middle): every
    * document labeled by which GLOBAL surprisal tercile it falls in.
    * Cuts are by VALUE — t1/t2 are the smallest surprisal values
    * covering ≥1/3 and ≥2/3 of documents — so ties land on one side
    * deterministically and the oracle replays the cut exactly
    * (integer cross-multiplication, no division). Head = most fluent
    * (lowest surprisal) — keep; tail = noise or very rare text —
    * route to stricter gates.
    *
    * Scale: the per-doc score is q94's shuffles; the cut works on the
    * VALUE HISTOGRAM (one aggregation, then a window over
    * distinct-value rows — bounded by score cardinality, never corpus
    * rows — the q123 winsorize discipline) and broadcasts two longs
    * back; labeling is row-local.
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    tercileCut(TextAnalysis.lmQuality(spark, dir)
      .select(col("doc_id"), col("surprisal_milli")), "surprisal_milli")

  /** Session-cached [[ccnetBuckets]] — the q54 `dupClustersCached`
    * discipline: the tercile assignment is a shared derived table
    * (q224 ships it; q227's budget fill, q243's epoch allocation and
    * the eval-slate fixture all key off it), so it is built ONCE per
    * session (eager checkpoint, warmed untimed in the bench prelude)
    * instead of re-running the q94 surprisal ladder + histogram cut on
    * every consumer's every run. (applicationId, dir)-keyed: a fresh
    * JVM recomputes from the parquet inputs.
    */
  private val bucketFixtures = scala.collection.concurrent.TrieMap
    .empty[(String, String), DataFrame]
  private val bucketLock = new Object
  SessionCaches.registerMap(bucketLock, bucketFixtures)

  private[graft] def ccnetBucketsCached(spark: SparkSession,
      dir: String): DataFrame =
    bucketLock.synchronized {
      import graft.operators.Checkpoints.CpOps
      val app = spark.sparkContext.applicationId
      SimSearch.evictStale(bucketFixtures, (k: (String, String)) => k._1, app)
      bucketFixtures.getOrElseUpdate((app, dir),
        ccnetBuckets(spark, dir).cp(eager = true))
    }

  /** The q224 value-histogram tercile machinery, factored so the q229
    * bigram stratifier cuts with the IDENTICAL rule: t1/t2 are the
    * smallest score values covering ≥1/3 and ≥2/3 of rows (integer
    * cross-multiplication — ties land deterministically), found on the
    * value histogram (bounded by score cardinality, never corpus rows)
    * and broadcast back; labeling is row-local. Keeps every column of
    * `s` and appends `bucket`.
    */
  private def tercileCut(s: DataFrame, score: String): DataFrame = {
    val hist = s.groupBy(col(score)).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(
      Window.orderBy(col(score))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val thr = withScalar(cum, s.agg(count(lit(1)).as("n")))
      .agg(
        min(when(col("cum") * 3 >= col("n"), col(score))).as("t1"),
        min(when(col("cum") * 3 >= col("n") * 2, col(score))).as("t2"))
    s.crossJoin(broadcast(thr))
      .withColumn("bucket",
        when(col(score) <= col("t1"), "head")
          .when(col(score) <= col("t2"), "middle")
          .otherwise("tail"))
      .drop("t1", "t2")
  }

  /** THE SHARED N-GRAM COUNT TABLES of the KN quality ladder
    * (q229/q236/q250/q254) — tokenized docs, the doc-grain n-gram
    * term frequencies, and every type-grain fold — factored into ONE
    * session fixture (the q54-closure discipline): before r13 each
    * stratifier rebuilt the whole stack per invocation, so the ladder
    * paid up to 4× for counts that are bit-identical by construction.
    * Consumers keep their scoring joins and oracles untouched — the
    * fixture holds exactly the values the inline chains computed, so
    * every hash is unchanged; only the recompute disappears.
    *
    * Scale: these tables are the LM a production CCNet-style filter
    * trains once and ships (vocab/n-gram-grain, KBs–GBs at 100 TB
    * corpus scale, never corpus-grain); materializing them once per
    * session is the train-once/score-everywhere shape the fixture
    * family exists for. Build cost stays visible to SCALE.md via the
    * `fixture:ngram_tables` audit row (the deepest chain — the other
    * tables are prefixes of it or cheaper folds).
    */
  private[graft] final case class NgramTables(
      d: DataFrame, uni: DataFrame, total: DataFrame,
      bt: DataFrame, cb: DataFrame, cu: DataFrame, nv: DataFrame,
      types: DataFrame,
      t3: DataFrame, c3: DataFrame, ctx: DataFrame,
      contVw: DataFrame, contV: DataFrame,
      t4: DataFrame, c4: DataFrame, ctx3: DataFrame,
      cp3: DataFrame, cpUv: DataFrame,
      bi2: DataFrame, tri3: DataFrame, quad4: DataFrame)

  private[graft] def ngramTables(spark: SparkSession, dir: String,
      eager: Boolean): NgramTables = {
    import graft.operators.Checkpoints.CpOps
    import graft.sources.Tables
    def k(df: DataFrame): DataFrame = df.cp(eager = eager)
    /** Overlap INDEPENDENT eager builds (guide §2.6: actions are only
      * sequential because the driver calls them sequentially): the
      * unigram/bigram/trigram/4-gram chains share only the already-
      * materialized `d`, so their ~18 serial checkpoint jobs become 4
      * concurrent lanes back-filling each other's stragglers. Safe
      * under the Checkpoints lock-order rule: each lane eagerly
      * materializes its OWN chain and no lane's lineage references
      * another lane's unmaterialized checkpoint (cross-lane joins
      * happen in a second phase, over already-materialized inputs).
      * Lazy (audit) builds stay single-threaded pure plan-building.
      */
    def par[A, B, C, D](a: => A, b: => B, c: => C, dd: => D): (A, B, C, D) =
      if (!eager) (a, b, c, dd)
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val (fa, fb, fc, fd) =
          (Future(a), Future(b), Future(c), Future(dd))
        (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf),
          Await.result(fc, Duration.Inf), Await.result(fd, Duration.Inf))
      }
    val d = k(Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.Portable.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 1))
    val tok = d.select(col("doc_id"), explode(col("ws")).as("w"))
    // phase A: the four order chains, each sequential WITHIN its lane,
    // the lanes overlapped (see `par` above)
    val (uni, biChain, triChain, quadChain) = par(
      k(tok.groupBy(col("w")).agg(count(lit(1)).as("cnt"))),
      {
        val bt = k(d.filter(size(col("ws")) >= 2)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("ws")) - 1), i =>
              struct(element_at(col("ws"), i).as("u"),
                element_at(col("ws"), i + 1).as("v")))).as("p"))
          .groupBy(col("doc_id"), col("p.u").as("u"), col("p.v").as("v"))
          .agg(count(lit(1)).as("btf")))
        val cb = k(bt.groupBy(col("u"), col("v"))
          .agg(sum(col("btf")).as("cuv")))
        val cu = k(cb.groupBy(col("u")).agg(sum(col("cuv")).as("cu"),
          count(lit(1)).as("n1u")))
        val nv = k(cb.groupBy(col("v")).agg(count(lit(1)).as("n1v")))
        (bt, cb, cu, nv)
      },
      {
        val t3 = k(d.filter(size(col("ws")) >= 3)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("ws")) - 2), i =>
              struct(element_at(col("ws"), i).as("u"),
                element_at(col("ws"), i + 1).as("v"),
                element_at(col("ws"), i + 2).as("w")))).as("p"))
          .groupBy(col("doc_id"), col("p.u").as("u"), col("p.v").as("v"),
            col("p.w").as("w"))
          .agg(count(lit(1)).as("ttf")))
        val c3 = k(t3.groupBy(col("u"), col("v"), col("w"))
          .agg(sum(col("ttf")).as("ctf")))
        val ctx = k(c3.groupBy(col("u"), col("v"))
          .agg(sum(col("ctf")).as("c2x"), count(lit(1)).as("n1p_uv")))
        val contVw = k(c3.groupBy(col("v"), col("w"))
          .agg(count(lit(1)).as("cpvw")))
        val contV = k(contVw.groupBy(col("v"))
          .agg(sum(col("cpvw")).as("cpv"), count(lit(1)).as("n1p_v")))
        (t3, c3, ctx, contVw, contV)
      },
      {
        val t4 = k(d.filter(size(col("ws")) >= 4)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("ws")) - 3), i =>
              struct(element_at(col("ws"), i).as("t"),
                element_at(col("ws"), i + 1).as("u"),
                element_at(col("ws"), i + 2).as("v"),
                element_at(col("ws"), i + 3).as("w")))).as("p"))
          .groupBy(col("doc_id"), col("p.t").as("t"), col("p.u").as("u"),
            col("p.v").as("v"), col("p.w").as("w"))
          .agg(count(lit(1)).as("qtf")))
        val c4 = k(t4.groupBy(col("t"), col("u"), col("v"), col("w"))
          .agg(sum(col("qtf")).as("c4f")))
        val ctx3 = k(c4.groupBy(col("t"), col("u"), col("v"))
          .agg(sum(col("c4f")).as("c3x"), count(lit(1)).as("n1p_tuv")))
        val cp3 = k(c4.groupBy(col("u"), col("v"), col("w"))
          .agg(count(lit(1)).as("cp3")))
        val cpUv = k(cp3.groupBy(col("u"), col("v"))
          .agg(sum(col("cp3")).as("cpuv"), count(lit(1)).as("n1pp_uv")))
        (t4, c4, ctx3, cp3, cpUv)
      })
    val (bt, cb, cu, nv) = biChain
    val (t3, c3, ctx, contVw, contV) = triChain
    val (t4, c4, ctx3, cp3, cpUv) = quadChain
    // total/types stay LAZY global aggregates over the cached
    // vocab-grain tables (cheap folds, identical values): their
    // consumers cross-join them via withScalar, and the cartesian
    // kill-switch proves a broadcast side bounded only when the plan
    // SHOWS the one-row aggregate — a checkpointed scan would read as
    // an unbounded NL join even though it holds one row
    val total = uni.agg(sum(col("cnt")).as("n_total"))
    val types = cb.agg(count(lit(1)).as("t_types")) // lazy — see total
    // Merged PER-LEVEL scoring tables — the shape a production KN
    // deployment actually ships (one lookup table per order with every
    // context/continuation count pre-attached). They collapse the 3-7
    // per-query equi-joins the four LM-quality scorers each re-ran per
    // run into ONE join at score time. Pure re-association of the same
    // inner equi-joins over the same keys: row sets and every count
    // value are identical, and the DuckDB oracles keep replaying the
    // unmerged chain, so the hash gate pins the equivalence. phase B:
    // cross-lane joins, over phase A's already-materialized inputs.
    val (bi2, tri3, quad4, _) = par(
      k(cb.join(cu, Seq("u")).join(nv, Seq("v"))),
      k(c3.join(ctx, Seq("u", "v")).join(contVw, Seq("v", "w"))
        .join(contV, Seq("v"))
        .join(nv.withColumnRenamed("v", "w"), Seq("w"))),
      k(c4.join(ctx3, Seq("t", "u", "v"))
        .join(cp3, Seq("u", "v", "w")).join(cpUv, Seq("u", "v"))
        .join(contVw, Seq("v", "w")).join(contV, Seq("v"))
        .join(nv.withColumnRenamed("v", "w"), Seq("w"))),
      ())
    NgramTables(d, uni, total, bt, cb, cu, nv, types,
      t3, c3, ctx, contVw, contV, t4, c4, ctx3, cp3, cpUv,
      bi2, tri3, quad4)
  }

  private val ngramFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String), NgramTables]
  private val ngramLock = new Object

  SessionCaches.registerMap(ngramLock, ngramFixtures)

  private[graft] def ngramTablesCached(spark: SparkSession,
      dir: String): NgramTables =
    ngramLock.synchronized {
      val app = spark.sparkContext.applicationId
      SimSearch.evictStale(ngramFixtures, (k: (String, String)) => k._1, app)
      ngramFixtures.getOrElseUpdate((app, dir),
        ngramTables(spark, dir, eager = true))
    }

  /** q229: INTERPOLATED BIGRAM-LM QUALITY — the fidelity upgrade the
    * q94 unigram score approximates (CCNet's actual filter is an
    * n-gram LM): each document's mean per-token surprisal under the
    * evenly-interpolated bigram model
    * `p(v|u) = (c(u,v)/c(u) + cnt(v)/N) / 2`, exactly integer — the
    * per-token bits are `floor(log2(floor(1/p)))`, computed as
    * `length(bin((2·c(u)·N) DIV (c(u,v)·N + cnt(v)·c(u)))) − 1` (the
    * q146 PMI discipline: stay in integer ratios, no floating log
    * anywhere, so the DuckDB `printf('%b')` oracle hash-matches
    * bit-for-bit). Each document's FIRST token has no left context and
    * scores by q94's unigram kernel; every later token scores by its
    * bigram — so every token is scored exactly once and per-doc
    * `n_tokens` conserves the corpus total (the q94 spec discipline).
    * The scores feed the q224 tercile cut as a SECOND stratifier —
    * q224 stays on the unigram score (kept separate deliberately: the
    * two stratifiers disagree exactly where context matters, and the
    * disagreement diagonal is itself a curation signal the spec pins).
    *
    * Interpolation (vs raw bigram) is what makes the score total: an
    * unseen-in-training bigram still has `cnt(v)/2N` mass, so scoring
    * a NEW drop against a frozen LM never divides by zero — the
    * production shape (train once, score every drop).
    *
    * Scale: ONE new shuffle vs q94 — the bigram-grain (u,v) count
    * with map-side partials (doc-grain tf first, the q94 tf
    * discipline); c(u) folds from it at vocab grain; scoring joins the
    * LM back at (u,v) grain (AQE broadcasts the vocab-sized sides
    * while they fit); the tercile cut is the q224 histogram. The
    * `2·c(u)·N` product is guarded in-plan (q192's discipline):
    * past ~3·10⁹ tokens the exact-long headroom ends and the guard
    * raises — the trillion-token deployment swaps the ratio to the
    * bits-difference form on decimals rather than silently wrapping.
    */
  def bigramQuality(spark: SparkSession, dir: String): DataFrame = {
    // counts from the shared session fixture (r13) — same values the
    // inline chain computed, oracle unchanged
    val nt = ngramTablesCached(spark, dir)
    val fb = nt.d.select(col("doc_id"), element_at(col("ws"), 1).as("w"),
        lit(1L).as("btf"))
      .join(nt.uni, "w")
      .transform(withScalar(_, nt.total))
      .select(col("doc_id"), col("btf"),
        expr("length(bin(n_total DIV cnt)) - 1").as("bits"))
    val bb = nt.bt
      .join(nt.cb, Seq("u", "v"))
      .join(nt.cu, Seq("u"))
      .join(nt.uni.withColumnRenamed("w", "v"), Seq("v"))
      .transform(withScalar(_, nt.total))
      .select(col("doc_id"), col("btf"),
        when(col("n_total").cast("double") * col("n_total") * 2 >
            Long.MaxValue.toDouble,
          raise_error(lit("q229: 2·c(u)·N exceeds exact-long range — " +
            "swap the interpolated ratio to the bits-difference form " +
            "on decimals")))
          .otherwise(expr("length(bin((2 * cu * n_total) DIV " +
            "(cuv * n_total + cnt * cu))) - 1")).as("bits"))
    val s = fb.unionByName(bb)
      .groupBy(col("doc_id"))
      .agg(sum(col("btf")).as("n_tokens"),
        sum(col("btf") * col("bits")).as("sum_bits"))
      .withColumn("surprisal_milli", expr("sum_bits * 1000 DIV n_tokens"))
    tercileCut(s, "surprisal_milli")
  }

  /** q236: KNESER–NEY BIGRAM QUALITY — the smoothing CCNet's n-gram
    * filter actually uses, exact to the integer: absolute discounting
    * with D = 3/4 over the q229 bigram counts,
    * `p_KN(v|u) = (c(u,v) − D)/c(u) + D·N1+(u)/c(u) · N1-(v)/T`
    * (N1+(u) = distinct continuations of u, N1-(v) = distinct left
    * contexts of v, T = distinct bigram types — the continuation
    * probability that makes KN beat naive interpolation: a word seen
    * in MANY contexts stays probable in a new one, a word frequent in
    * ONE context does not). Over the common denominator `4·c(u)·T`
    * every quantity is an integer —
    * `p = ((4·c(u,v) − 3)·T + 3·N1+(u)·N1-(v)) / (4·c(u)·T)` — so the
    * per-token bits stay the q94/q229 `length(bin(den DIV num)) − 1`
    * kernel and the DuckDB oracle hash-matches bit-for-bit. Every
    * scored bigram is observed (train corpus = scored corpus), so the
    * discount never goes negative; first tokens score by the unigram
    * kernel, conserving tokens exactly as q229 does. Scores feed the
    * q224 tercile cut — a THIRD stratifier whose disagreement with
    * the interpolated one (spec-pinned non-empty) is precisely the
    * continuation-mass signal KN exists to add.
    *
    * Scale: q229's shapes plus two vocab-grain folds of the
    * bigram-type table (N1+ per u, N1- per v) and one 1-row type
    * count; the same q192-style in-plan guard bounds `4·c(u)·T` —
    * past that the deployment widens to decimals rather than wrap.
    */
  def knBigramQuality(spark: SparkSession, dir: String): DataFrame = {
    // counts from the shared session fixture (r13) — same values the
    // inline chain computed, oracle unchanged
    val nt = ngramTablesCached(spark, dir)
    val fb = nt.d.select(col("doc_id"), element_at(col("ws"), 1).as("w"),
        lit(1L).as("btf"))
      .join(nt.uni, "w")
      .transform(withScalar(_, nt.total))
      .select(col("doc_id"), col("btf"),
        expr("length(bin(n_total DIV cnt)) - 1").as("bits"))
    val bb = nt.bt
      .join(nt.bi2, Seq("u", "v")) // merged bigram level (one join)
      .transform(withScalar(_, nt.types))
      .select(col("doc_id"), col("btf"),
        when(col("cu").cast("double") * col("t_types") * 4 >
            Long.MaxValue.toDouble,
          raise_error(lit("q236: 4·c(u)·T exceeds exact-long range — " +
            "widen the KN ratio to decimals")))
          .otherwise(expr("length(bin((4 * cu * t_types) DIV " +
            "((4 * cuv - 3) * t_types + 3 * n1u * n1v))) - 1"))
          .as("bits"))
    val s = fb.unionByName(bb)
      .groupBy(col("doc_id"))
      .agg(sum(col("btf")).as("n_tokens"),
        sum(col("btf") * col("bits")).as("sum_bits"))
      .withColumn("surprisal_milli", expr("sum_bits * 1000 DIV n_tokens"))
    tercileCut(s, "surprisal_milli")
  }

  /** q250: KNESER–NEY TRIGRAM QUALITY WITH BACKOFF — q236 extended
    * one order, the direction CCNet's production 5-gram filter sits
    * in (bigram→trigram is where held-out perplexity moves most):
    *
    *   p(w|u,v) = (c(uvw) − D)/ctx(uv) + D·N1+(uv·)/ctx(uv) · p_bi(w|v)
    *   p_bi(w|v) = (c'(vw) − D)/c'(v) + D·N1+(v·)/c'(v) · N1-(·w)/T
    *
    * with D = 3/4, ctx(uv) = Σ_w c(uvw) (so every context row
    * normalizes exactly), and the BACKOFF level on CONTINUATION
    * counts — c'(vw) = N1-(·vw), the distinct left contexts of the
    * bigram vw inside trigrams — which is what distinguishes KN
    * backoff from naive interpolation one order up: a bigram frequent
    * under MANY contexts keeps mass in a new one. The final unigram
    * level reuses q236's continuation unigram N1-(·w)/T verbatim
    * (T = bigram types), so the three orders of the family share one
    * integer vocabulary. Over the common denominator
    * `16·ctx(uv)·c'(v)·T` the whole chain is one exact-integer ratio:
    *
    *   num = (4·c(uvw)−3)·4·c'(v)·T
    *       + 3·N1+(uv·)·((4·c'(vw)−3)·T + 3·N1+(v·)·N1-(·w))
    *
    * and the per-token bits stay `length(bin(den DIV num)) − 1`. Every
    * scored trigram is observed (train corpus = scored corpus), so no
    * discount goes negative. Token conservation is exact: token 1
    * scores by the q94 unigram kernel, token 2 by q236's bigram-KN
    * kernel, tokens 3+ by the trigram — n per n-word document.
    * Scores feed the q224 tercile cut as the FOURTH stratifier; the
    * tri↔bi disagreement diagonal (spec-pinned non-empty) is the
    * added trigram-context signal.
    *
    * Scale: q236's shapes plus ONE new n-gram-grain shuffle (the
    * doc-grain trigram tf) and its vocab-grain folds
    * (ctx/continuation tables); scoring is equi-joins at trigram
    * grain. The `16·ctx(uv)·c'(v)·T` product carries the q192-style
    * in-plan guard — past exact-long range the deployment widens to
    * decimals rather than wrap.
    */
  def knTrigramQuality(spark: SparkSession, dir: String): DataFrame = {
    // counts from the shared session fixture (r13) — same values the
    // inline chain computed, oracle unchanged
    val nt = ngramTablesCached(spark, dir)
    // token 1: unigram kernel (q94)
    val f1 = nt.d.select(col("doc_id"), element_at(col("ws"), 1).as("w"),
        lit(1L).as("btf"))
      .join(nt.uni, "w")
      .transform(withScalar(_, nt.total))
      .select(col("doc_id"), col("btf"),
        expr("length(bin(n_total DIV cnt)) - 1").as("bits"))
    // token 2: q236's bigram-KN kernel over the doc's FIRST bigram
    val f2 = nt.d.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), element_at(col("ws"), 1).as("u"),
        element_at(col("ws"), 2).as("v"), lit(1L).as("btf"))
      .join(nt.bi2, Seq("u", "v")) // merged bigram level (one join)
      .transform(withScalar(_, nt.types))
      .select(col("doc_id"), col("btf"),
        when(col("cu").cast("double") * col("t_types") * 4 >
            Long.MaxValue.toDouble,
          raise_error(lit("q250: 4·c(u)·T exceeds exact-long range — " +
            "widen the KN ratio to decimals")))
          .otherwise(expr("length(bin((4 * cu * t_types) DIV " +
            "((4 * cuv - 3) * t_types + 3 * n1u * n1v))) - 1"))
          .as("bits"))
    // tokens 3+: the trigram chain over the common denominator
    val f3 = nt.t3
      .join(nt.tri3, Seq("u", "v", "w")) // merged trigram level
      .transform(withScalar(_, nt.types))
      .select(col("doc_id"), col("ttf").as("btf"),
        when(col("c2x").cast("double") * col("cpv") * col("t_types") * 16 >
            Long.MaxValue.toDouble,
          raise_error(lit("q250: 16·ctx(uv)·c'(v)·T exceeds exact-long " +
            "range — widen the KN ratio to decimals")))
          .otherwise(expr("length(bin((16 * c2x * cpv * t_types) DIV " +
            "((4 * ctf - 3) * 4 * cpv * t_types " +
            "+ 3 * n1p_uv * ((4 * cpvw - 3) * t_types " +
            "+ 3 * n1p_v * n1v)))) - 1"))
          .as("bits"))
    val s = f1.unionByName(f2).unionByName(f3)
      .groupBy(col("doc_id"))
      .agg(sum(col("btf")).as("n_tokens"),
        sum(col("btf") * col("bits")).as("sum_bits"))
      .withColumn("surprisal_milli", expr("sum_bits * 1000 DIV n_tokens"))
    tercileCut(s, "surprisal_milli")
  }

  /** q254: KNESER–NEY 4-GRAM QUALITY WITH BACKOFF — q250 extended one
    * more order, reaching CCNet's production n-gram depth minus one
    * (their filter is 5-gram; 4-gram is where this corpus's measured
    * context density still pays — 94%+ of 4-gram positions sit on a
    * repeated 3-token context at sf0.01, 99.9% at sf0.1, so the top
    * order is live, not backoff-only):
    *
    *   p(w|t,u,v) = (c4(tuvw) − D)/ctx3(tuv)
    *              + D·N1+(tuv·)/ctx3(tuv) · p3'(w|u,v)
    *   p3'(w|u,v) = (c'(uvw) − D)/c'(uv) + D·N1+'(uv·)/c'(uv) · p2'(w|v)
    *
    * with D = 3/4, ctx3(tuv) = Σ_w c4(tuvw), and the backed-off
    * TRIGRAM level on continuation counts — c'(uvw) = N1-(·uvw), the
    * distinct left contexts t of the trigram uvw inside 4-grams — the
    * same one-order-down move q250 makes for its bigram level. The
    * bigram and unigram levels reuse q250's tables VERBATIM
    * (c'(vw) = N1-(·vw) over trigram types, N1-(·w)/T with T = bigram
    * types), so all four orders of the family share one integer
    * vocabulary. Over the common denominator
    * `64·ctx3(tuv)·c'(uv)·c'(v)·T` the whole chain is one
    * exact-integer ratio:
    *
    *   num3' = (4·c'(uvw)−3)·4·c'(v)·T
    *         + 3·N1+'(uv·)·((4·c'(vw)−3)·T + 3·N1+(v·)·N1-(·w))
    *   num   = (4·c4(tuvw)−3)·16·c'(uv)·c'(v)·T + 3·N1+(tuv·)·num3'
    *
    * and the per-token bits stay `length(bin(den DIV num)) − 1`. Every
    * scored 4-gram is observed, so no discount goes negative. Token
    * conservation is exact: token 1 unigram, token 2 bigram-KN,
    * token 3 trigram-KN (q250's kernel over the doc's first trigram),
    * tokens 4+ the 4-gram chain — n per n-word document. Scores feed
    * the q224 tercile cut as the FIFTH stratifier; the 4↔3
    * disagreement diagonal (spec-pinned non-empty) is the added
    * 4-gram-context signal.
    *
    * Scale: q250's shapes plus ONE new n-gram-grain shuffle (the
    * doc-grain 4-gram tf) and its folds (ctx3, the trigram
    * continuation table); scoring is equi-joins at 4-gram grain. The
    * `64·ctx3·c'(uv)·c'(v)·T` product carries the q192-style in-plan
    * guard — past exact-long range the deployment widens to decimals
    * rather than wrap.
    */
  def knFourgramQuality(spark: SparkSession, dir: String): DataFrame = {
    // counts from the shared session fixture (r13) — same values the
    // inline chain computed, oracle unchanged
    val nt = ngramTablesCached(spark, dir)
    // token 1: unigram kernel (q94)
    val f1 = nt.d.select(col("doc_id"), element_at(col("ws"), 1).as("w"),
        lit(1L).as("btf"))
      .join(nt.uni, "w")
      .transform(withScalar(_, nt.total))
      .select(col("doc_id"), col("btf"),
        expr("length(bin(n_total DIV cnt)) - 1").as("bits"))
    // token 2: q236's bigram-KN kernel over the doc's first bigram
    val f2 = nt.d.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), element_at(col("ws"), 1).as("u"),
        element_at(col("ws"), 2).as("v"), lit(1L).as("btf"))
      .join(nt.bi2, Seq("u", "v")) // merged bigram level (one join)
      .transform(withScalar(_, nt.types))
      .select(col("doc_id"), col("btf"),
        when(col("cu").cast("double") * col("t_types") * 4 >
            Long.MaxValue.toDouble,
          raise_error(lit("q254: 4·c(u)·T exceeds exact-long range — " +
            "widen the KN ratio to decimals")))
          .otherwise(expr("length(bin((4 * cu * t_types) DIV " +
            "((4 * cuv - 3) * t_types + 3 * n1u * n1v))) - 1"))
          .as("bits"))
    // token 3: q250's trigram-KN kernel over the doc's first trigram
    val f3 = nt.d.filter(size(col("ws")) >= 3)
      .select(col("doc_id"), element_at(col("ws"), 1).as("u"),
        element_at(col("ws"), 2).as("v"),
        element_at(col("ws"), 3).as("w"), lit(1L).as("btf"))
      .join(nt.tri3, Seq("u", "v", "w")) // merged trigram level
      .transform(withScalar(_, nt.types))
      .select(col("doc_id"), col("btf"),
        when(col("c2x").cast("double") * col("cpv") * col("t_types") * 16 >
            Long.MaxValue.toDouble,
          raise_error(lit("q254: 16·ctx(uv)·c'(v)·T exceeds exact-long " +
            "range — widen the KN ratio to decimals")))
          .otherwise(expr("length(bin((16 * c2x * cpv * t_types) DIV " +
            "((4 * ctf - 3) * 4 * cpv * t_types " +
            "+ 3 * n1p_uv * ((4 * cpvw - 3) * t_types " +
            "+ 3 * n1p_v * n1v)))) - 1"))
          .as("bits"))
    // tokens 4+: the 4-gram chain over the common denominator
    val f4 = nt.t4
      .join(nt.quad4, Seq("t", "u", "v", "w")) // merged 4-gram level
      .transform(withScalar(_, nt.types))
      .select(col("doc_id"), col("qtf").as("btf"),
        when(col("c3x").cast("double") * col("cpuv") * col("cpv") *
            col("t_types") * 64 > Long.MaxValue.toDouble,
          raise_error(lit("q254: 64·ctx3(tuv)·c'(uv)·c'(v)·T exceeds " +
            "exact-long range — widen the KN ratio to decimals")))
          .otherwise(expr(
            "length(bin((64 * c3x * cpuv * cpv * t_types) DIV " +
              "((4 * c4f - 3) * 16 * cpuv * cpv * t_types " +
              "+ 3 * n1p_tuv * ((4 * cp3 - 3) * 4 * cpv * t_types " +
              "+ 3 * n1pp_uv * ((4 * cpvw - 3) * t_types " +
              "+ 3 * n1p_v * n1v))))) - 1"))
          .as("bits"))
    val s = f1.unionByName(f2).unionByName(f3).unionByName(f4)
      .groupBy(col("doc_id"))
      .agg(sum(col("btf")).as("n_tokens"),
        sum(col("btf") * col("bits")).as("sum_bits"))
      .withColumn("surprisal_milli", expr("sum_bits * 1000 DIV n_tokens"))
    tercileCut(s, "surprisal_milli")
  }

  /** q225: N-GRAM NOVELTY — per document, the fraction (milli) of its
    * distinct 3-word shingles that appear in NO other document: the
    * complement of the duplication family (q15 finds documents whose
    * grams are shared; this scores how much of each document is
    * unique corpus-wide). Low novelty + not-a-near-dup flags
    * templated/boilerplate-assembled text q50's self-repetition
    * misses; high novelty marks the documents whose loss of dedup
    * would be irreversible. Shares q15's exact shingle-hash kernel,
    * so "novel here" and "near-dup there" can never disagree about
    * what a gram is.
    *
    * Scale: one gram-grain shuffle with map-side partials (the q33
    * tf-idf shape — gram document-frequencies), one equi-join back on
    * the gram hash, one doc-grain aggregation. Never all-pairs.
    */
  def gramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Dedup.docShingleHashes(spark, dir)
      .select(col("doc_id"), explode(col("hsh")).as("g"))
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.join(df, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("df") === 1).cast("long")).as("n_novel"))
      .withColumn("novelty_milli", expr("1000 * n_novel DIV n_grams"))
  }

  // q224 replay: q94's score chain, the histogram-cut thresholds by
  // integer cross-multiplication, then the row-local label
  private val ccnetBucketsSql =
    """WITH q AS (@LM@),
      |s AS (SELECT doc_id, surprisal_milli FROM q),
      |h AS (SELECT surprisal_milli v, count(*) cnt FROM s GROUP BY 1),
      |c AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM h),
      |n AS (SELECT CAST(count(*) AS BIGINT) n FROM s),
      |t AS (SELECT min(CASE WHEN cum * 3 >= n THEN v END) t1,
      |        min(CASE WHEN cum * 3 >= 2 * n THEN v END) t2
      |      FROM c, n)
      |SELECT doc_id, surprisal_milli,
      |  CASE WHEN surprisal_milli <= t1 THEN 'head'
      |       WHEN surprisal_milli <= t2 THEN 'middle'
      |       ELSE 'tail' END bucket
      |FROM s, t""".stripMargin
      .replace("@LM@", TextAnalysis.lmQualitySql)

  // q225 replay over q15's shared shingle CTE (contains `||` — spliced
  // AFTER stripMargin)
  private val gramNoveltySql =
    """@SH@,
      |g AS (SELECT doc_id, unnest(hsh) g FROM d),
      |f AS (SELECT g, CAST(count(*) AS BIGINT) df FROM g GROUP BY 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) n_grams,
      |  CAST(sum(CAST(df = 1 AS BIGINT)) AS BIGINT) n_novel,
      |  (1000 * CAST(sum(CAST(df = 1 AS BIGINT)) AS BIGINT))
      |    // count(*) novelty_milli
      |FROM g JOIN f USING (g) GROUP BY doc_id""".stripMargin
      .replace("@SH@", Dedup.sqlShingles)

  /** Documents per (lang, tercile) stratum in the q226 eval slate. */
  private[graft] val SlateQuota = 4

  /** q226: BALANCED EVAL SLATE — carve a held-out evaluation set that
    * is STRATIFIED where the corpus is skewed: exactly ≤[[SlateQuota]]
    * documents per (language, q224 perplexity tercile) stratum, chosen
    * in salted-hash order (q170's decorrelation — "first K by
    * doc_id" would sample one crawl segment), with exact-duplicate
    * non-keepers excluded first (an eval doc that also sits in
    * training under another id is contamination by construction —
    * q14's keeper rule). This is the table an eval-set builder ships:
    * every language × quality band is represented, however small its
    * share of the corpus.
    *
    * Scale: dedup keepers are q14's content-hash aggregate; bucket
    * labels are q224's broadcast-cut; the per-stratum pick is a
    * rank window over lang×tercile partitions — swap in the
    * q159/q180 bounded-heap Aggregator when strata grow corpus-sized
    * (the quota is tiny, so only ≤K rows per stratum ever matter).
    */
  /** Session-cached q226 slate (the q34 trained-artifact discipline):
    * the slate is a quota-bounded derived artifact three consumers
    * re-carved per invocation (q226 itself, q244's preference gate,
    * q235's release gate via the export chain) — built once per
    * (application, sf dir), eagerly checkpointed, bit-identical to
    * the per-query carve so every oracle hash is unchanged.
    */
  private val slateFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
  private val slateLock = new Object

  SessionCaches.registerMap(slateLock, slateFixtures)

  /** Audit hook (see [[SimSearch.fixturePlans]]): the un-cached slate
    * carve for SCALE.md's `fixture:*` rows — q226's own row shows the
    * post-build frame once the artifact is session-cached.
    */
  private[graft] def auditPlans(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] =
    Seq("fixture:eval_slate" -> evalSlate(spark, dir),
      "fixture:ccnet_buckets" -> ccnetBuckets(spark, dir),
      // the n-gram fixture's deepest chain (docs → 4-gram tf → type
      // counts); the bigram/trigram chains are shape-prefixes of it
      // and the remaining tables are vocab-grain folds
      "fixture:ngram_tables" -> ngramTables(spark, dir, eager = false).c4)

  /** Named fixture builds for the bench's timed `fixture:*` rows
    * (see [[DedupClusters.fixtureBuilds]] for why pre-sweep building
    * is required, not optional).
    */
  override private[graft] val fixtureBuilds:
      Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "fixture:ccnet_buckets" ->
      ((s: SparkSession, d: String) => { ccnetBucketsCached(s, d); () }),
    "fixture:eval_slate" ->
      ((s: SparkSession, d: String) => { evalSlateCached(s, d); () }),
    "fixture:ngram_tables" ->
      ((s: SparkSession, d: String) => { ngramTablesCached(s, d); () }))

  private[graft] def evalSlateCached(spark: SparkSession,
      dir: String): DataFrame =
    slateLock.synchronized {
      import graft.operators.Checkpoints.CpOps
      val app = spark.sparkContext.applicationId
      SimSearch.evictStale(slateFixtures, (k: (String, String)) => k._1, app)
      slateFixtures.getOrElseUpdate((app, dir),
        evalSlate(spark, dir).cp(eager = true))
    }

  def evalSlate(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
    val keepers = d.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val b = ccnetBucketsCached(spark, dir)
    d.join(keepers, "doc_id")
      .join(b, "doc_id")
      .withColumn("k", graft.functions.Portable.hash60(
        concat_ws(":", lit("eval"), col("doc_id"))))
      .withColumn("slot", row_number().over(Window
        .partitionBy(col("lang"), col("bucket"))
        .orderBy(col("k"), col("doc_id"))))
      .filter(col("slot") <= SlateQuota)
      .select(col("lang"), col("bucket"), col("slot"), col("doc_id"),
        col("surprisal_milli"))
  }

  // q226 replay: keeper dedup + the q224 chain + the salted per-
  // stratum rank; the bucket SQL and hash kernel splice AFTER
  // stripMargin (both contain `||`)
  private[operators] val evalSlateSql =
    """WITH bkt AS (@BKT@),
      |d AS (SELECT doc_id, lang, md5(text) h FROM documents),
      |keep AS (SELECT min(doc_id) doc_id FROM d GROUP BY h),
      |j AS (SELECT d.doc_id, d.lang, bkt.bucket, bkt.surprisal_milli,
      |        @EH@ k
      |      FROM d JOIN keep USING (doc_id) JOIN bkt USING (doc_id)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang, bucket
      |        ORDER BY k, doc_id) slot
      |      FROM j)
      |SELECT lang, bucket, slot, doc_id, surprisal_milli
      |FROM r WHERE slot <= @Q@""".stripMargin
      .replace("@BKT@", ccnetBucketsSql)
      .replace("@EH@", graft.functions.Portable.sqlHash60(
        "'eval:' || CAST(doc_id AS VARCHAR)"))
      .replace("@Q@", SlateQuota.toString)

  /** q227: QUALITY-STRATIFIED TOKEN BUDGET — the allocation plan that
    * turns q224's terciles into a training mix: a total token budget
    * (60% of the corpus here) is split across head/middle/tail at
    * CCNet-style 500/400/100 milli weights, CAPPED by each bucket's
    * available tokens, and any surplus a capped bucket couldn't
    * absorb redistributes greedily in quality-priority order
    * (head first) — the "oversample the fluent band, keep a small
    * regularizing tail" recipe, as an executable integer plan with a
    * per-bucket fill rate a sampler (q122/q157) consumes directly.
    *
    * Scale: per-bucket token totals are one 3-group aggregation with
    * map-side partials riding q224's shuffles; the allocation itself
    * is windows over the THREE bucket rows — metadata-tier no matter
    * the corpus.
    */
  def bucketBudget(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(graft.functions.Portable.words(col("text"))).cast("long")
          .as("nt"))
    val avail = ccnetBucketsCached(spark, dir).join(d, "doc_id")
      .groupBy(col("bucket")).agg(sum(col("nt")).as("avail_tokens"))
      .withColumn("weight_milli",
        when(col("bucket") === "head", 500L)
          .when(col("bucket") === "middle", 400L).otherwise(100L))
      .withColumn("prio",
        when(col("bucket") === "head", 1)
          .when(col("bucket") === "middle", 2).otherwise(3))
    val whole = Window.partitionBy()
    val before = Window.partitionBy().orderBy(col("prio"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withScalar(avail, d.agg(sum(col("nt")).as("total")))
      .withColumn("budget", expr("(6 * total) DIV 10"))
      .withColumn("p1", least(col("avail_tokens"),
        expr("(budget * weight_milli) DIV 1000")))
      .withColumn("leftover", col("budget") - sum(col("p1")).over(whole))
      .withColumn("cap_before", coalesce(
        sum(col("avail_tokens") - col("p1")).over(before), lit(0L)))
      .withColumn("alloc_tokens", col("p1") + greatest(lit(0L),
        least(col("avail_tokens") - col("p1"),
          col("leftover") - col("cap_before"))))
      .select(col("bucket"), col("avail_tokens"), col("weight_milli"),
        col("alloc_tokens"),
        expr("(1000 * alloc_tokens) DIV avail_tokens").as("fill_milli"))
  }

  /** q243: DATA-CONSTRAINED EPOCH ALLOCATION — the repeated-data
    * budget plan from the public data-constrained scaling result
    * (repeating a corpus up to ~4 epochs retains most of fresh-data
    * value; beyond that returns collapse): a training budget LARGER
    * than the corpus (3× here — the regime where you must repeat)
    * is allocated greedily in quality-priority order, each tercile
    * capped at [[RepeatMaxEpochs]] epochs of its fresh mass — head
    * repeats first and most, tail only if budget remains. Output per
    * tercile: fresh tokens, the 4-epoch capacity, allocated tokens,
    * and the realized epoch count in milli — the table a pretraining
    * owner turns into per-bucket sampler rates for a multi-epoch run
    * (q234's shuffle consumes exactly this).
    *
    * Scale: q227's posture verbatim — per-bucket totals ride q224's
    * shuffles, the allocation is windows over THREE rows.
    */
  val RepeatMaxEpochs = 4L

  def repeatEpochs(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(graft.functions.Portable.words(col("text"))).cast("long")
          .as("nt"))
    val avail = ccnetBucketsCached(spark, dir).join(d, "doc_id")
      .groupBy(col("bucket")).agg(sum(col("nt")).as("avail_tokens"))
      .withColumn("prio",
        when(col("bucket") === "head", 1)
          .when(col("bucket") === "middle", 2).otherwise(3))
    val before = Window.partitionBy().orderBy(col("prio"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withScalar(avail, d.agg(sum(col("nt")).as("total")))
      .withColumn("budget", expr("3 * total"))
      .withColumn("capacity_tokens", col("avail_tokens") * RepeatMaxEpochs)
      .withColumn("cap_before",
        coalesce(sum(col("capacity_tokens")).over(before), lit(0L)))
      .withColumn("alloc_tokens", greatest(lit(0L),
        least(col("capacity_tokens"), col("budget") - col("cap_before"))))
      .select(col("bucket"), col("avail_tokens"), col("capacity_tokens"),
        col("alloc_tokens"),
        expr("(1000 * alloc_tokens) DIV nullif(avail_tokens, 0)")
          .as("epochs_milli"))
  }

  // q243 replay: the same greedy 4-epoch-capped fill over three rows
  private val repeatEpochsSql =
    """WITH bkt AS (@BKT@),
      |d AS (SELECT doc_id, CAST(len(@WS@) AS BIGINT) nt FROM documents),
      |a AS (SELECT bucket, CAST(sum(nt) AS BIGINT) avail,
      |        CASE bucket WHEN 'head' THEN 1
      |             WHEN 'middle' THEN 2 ELSE 3 END prio
      |      FROM bkt JOIN d USING (doc_id) GROUP BY bucket),
      |t AS (SELECT CAST(sum(nt) AS BIGINT) total FROM d),
      |g AS (SELECT a.*, 3 * total budget, avail * 4 capacity,
      |        CAST(coalesce(sum(avail * 4) OVER (ORDER BY prio
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) cap_before
      |      FROM a, t)
      |SELECT bucket, avail avail_tokens, capacity capacity_tokens,
      |  greatest(0, least(capacity, budget - cap_before)) alloc_tokens,
      |  (1000 * greatest(0, least(capacity, budget - cap_before)))
      |    // nullif(avail, 0) AS epochs_milli
      |FROM g""".stripMargin
      .replace("@BKT@", ccnetBucketsSql)
      .replace("@WS@", graft.functions.Portable.sqlWords)

  // q227 replay: the same capped-weighted first pass and priority-
  // ordered greedy redistribution over the three bucket rows
  private val bucketBudgetSql =
    """WITH bkt AS (@BKT@),
      |d AS (SELECT doc_id, CAST(len(@WS@) AS BIGINT) nt FROM documents),
      |a AS (SELECT bucket, CAST(sum(nt) AS BIGINT) avail
      |      FROM bkt JOIN d USING (doc_id) GROUP BY bucket),
      |w AS (SELECT bucket, avail,
      |        CAST(CASE bucket WHEN 'head' THEN 500
      |             WHEN 'middle' THEN 400 ELSE 100 END AS BIGINT)
      |          weight_milli,
      |        CASE bucket WHEN 'head' THEN 1
      |             WHEN 'middle' THEN 2 ELSE 3 END prio
      |      FROM a),
      |t AS (SELECT CAST(sum(nt) AS BIGINT) total FROM d),
      |p AS (SELECT w.*, (6 * total) // 10 budget,
      |        least(avail, (((6 * total) // 10) * weight_milli) // 1000) p1
      |      FROM w, t),
      |g AS (SELECT *, CAST(sum(p1) OVER () AS BIGINT) spent,
      |        CAST(coalesce(sum(avail - p1) OVER (ORDER BY prio
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) cap_before
      |      FROM p)
      |SELECT bucket, avail avail_tokens, weight_milli,
      |  p1 + greatest(0, least(avail - p1, budget - spent - cap_before))
      |    alloc_tokens,
      |  (1000 * (p1 + greatest(0, least(avail - p1,
      |    budget - spent - cap_before)))) // avail fill_milli
      |FROM g""".stripMargin
      .replace("@BKT@", ccnetBucketsSql)
      .replace("@WS@", graft.functions.Portable.sqlWords)

  // q229 replay: the interpolated-bigram bits chain (first token =
  // q94's unigram kernel), then the q224 histogram cut verbatim
  private val bigramQualitySql = {
    import graft.functions.Portable.sqlWords
    s"""WITH w0 AS (SELECT doc_id, $sqlWords ws FROM documents),
       |d AS (SELECT doc_id, ws FROM w0 WHERE len(ws) >= 1),
       |tok AS (SELECT doc_id, unnest(ws) w FROM d),
       |c AS (SELECT w, CAST(count(*) AS BIGINT) cnt FROM tok GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) n_total FROM tok),
       |bg AS (SELECT doc_id, ws[i] u, ws[i + 1] v
       |       FROM d, LATERAL unnest(range(1, len(ws))) t(i)
       |       WHERE len(ws) >= 2),
       |bt AS (SELECT doc_id, u, v, CAST(count(*) AS BIGINT) btf
       |       FROM bg GROUP BY 1, 2, 3),
       |cb AS (SELECT u, v, CAST(sum(btf) AS BIGINT) cuv
       |       FROM bt GROUP BY 1, 2),
       |cu AS (SELECT u, CAST(sum(cuv) AS BIGINT) cu FROM cb GROUP BY 1),
       |fb AS (SELECT d.doc_id, CAST(1 AS BIGINT) btf,
       |         length(printf('%b', n_total // cnt)) - 1 bits
       |       FROM d JOIN c ON c.w = ws[1], n),
       |bb AS (SELECT bt.doc_id, bt.btf,
       |         length(printf('%b', (2 * cu.cu * n_total)
       |           // (cb.cuv * n_total + c.cnt * cu.cu))) - 1 bits
       |       FROM bt JOIN cb ON cb.u = bt.u AND cb.v = bt.v
       |         JOIN cu ON cu.u = bt.u JOIN c ON c.w = bt.v, n),
       |s AS (SELECT doc_id, CAST(sum(btf) AS BIGINT) n_tokens,
       |        CAST(sum(btf * bits) AS BIGINT) sum_bits,
       |        CAST(sum(btf * bits) * 1000 // sum(btf) AS BIGINT)
       |          surprisal_milli
       |      FROM (SELECT * FROM fb UNION ALL SELECT * FROM bb)
       |      GROUP BY 1),
       |h AS (SELECT surprisal_milli sv, count(*) cnt FROM s GROUP BY 1),
       |cc AS (SELECT sv, CAST(sum(cnt) OVER (ORDER BY sv
       |         ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM h),
       |nn AS (SELECT CAST(count(*) AS BIGINT) n FROM s),
       |t AS (SELECT min(CASE WHEN cum * 3 >= n THEN sv END) t1,
       |        min(CASE WHEN cum * 3 >= 2 * n THEN sv END) t2
       |      FROM cc, nn)
       |SELECT doc_id, n_tokens, sum_bits, surprisal_milli,
       |  CASE WHEN surprisal_milli <= t1 THEN 'head'
       |       WHEN surprisal_milli <= t2 THEN 'middle'
       |       ELSE 'tail' END bucket
       |FROM s, t""".stripMargin
  }

  // q236 replay: the q229 chain with the KN ratio — continuation
  // folds from the bigram-type CTE, the common-denominator bits
  // kernel, then the shared tercile cut
  private val knBigramQualitySql = {
    import graft.functions.Portable.sqlWords
    s"""WITH w0 AS (SELECT doc_id, $sqlWords ws FROM documents),
       |d AS (SELECT doc_id, ws FROM w0 WHERE len(ws) >= 1),
       |tok AS (SELECT doc_id, unnest(ws) w FROM d),
       |c AS (SELECT w, CAST(count(*) AS BIGINT) cnt FROM tok GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) n_total FROM tok),
       |bg AS (SELECT doc_id, ws[i] u, ws[i + 1] v
       |       FROM d, LATERAL unnest(range(1, len(ws))) t(i)
       |       WHERE len(ws) >= 2),
       |bt AS (SELECT doc_id, u, v, CAST(count(*) AS BIGINT) btf
       |       FROM bg GROUP BY 1, 2, 3),
       |cb AS (SELECT u, v, CAST(sum(btf) AS BIGINT) cuv
       |       FROM bt GROUP BY 1, 2),
       |cu AS (SELECT u, CAST(sum(cuv) AS BIGINT) cu,
       |         CAST(count(*) AS BIGINT) n1u FROM cb GROUP BY 1),
       |nv AS (SELECT v, CAST(count(*) AS BIGINT) n1v FROM cb GROUP BY 1),
       |ty AS (SELECT CAST(count(*) AS BIGINT) t_types FROM cb),
       |fb AS (SELECT d.doc_id, CAST(1 AS BIGINT) btf,
       |         length(printf('%b', n_total // cnt)) - 1 bits
       |       FROM d JOIN c ON c.w = ws[1], n),
       |bb AS (SELECT bt.doc_id, bt.btf,
       |         length(printf('%b', (4 * cu.cu * t_types)
       |           // ((4 * cb.cuv - 3) * t_types
       |               + 3 * cu.n1u * nv.n1v))) - 1 bits
       |       FROM bt JOIN cb ON cb.u = bt.u AND cb.v = bt.v
       |         JOIN cu ON cu.u = bt.u JOIN nv ON nv.v = bt.v, ty),
       |s AS (SELECT doc_id, CAST(sum(btf) AS BIGINT) n_tokens,
       |        CAST(sum(btf * bits) AS BIGINT) sum_bits,
       |        CAST(sum(btf * bits) * 1000 // sum(btf) AS BIGINT)
       |          surprisal_milli
       |      FROM (SELECT * FROM fb UNION ALL SELECT * FROM bb)
       |      GROUP BY 1),
       |h AS (SELECT surprisal_milli sv, count(*) cnt FROM s GROUP BY 1),
       |cc AS (SELECT sv, CAST(sum(cnt) OVER (ORDER BY sv
       |         ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM h),
       |nn AS (SELECT CAST(count(*) AS BIGINT) n FROM s),
       |t AS (SELECT min(CASE WHEN cum * 3 >= n THEN sv END) t1,
       |        min(CASE WHEN cum * 3 >= 2 * n THEN sv END) t2
       |      FROM cc, nn)
       |SELECT doc_id, n_tokens, sum_bits, surprisal_milli,
       |  CASE WHEN surprisal_milli <= t1 THEN 'head'
       |       WHEN surprisal_milli <= t2 THEN 'middle'
       |       ELSE 'tail' END bucket
       |FROM s, t""".stripMargin
  }

  // q250 replay: q236's chain plus the trigram tables (doc-grain tf,
  // corpus counts, context fold, continuation folds) and the
  // common-denominator ratio; token 1 unigram, token 2 bigram-KN,
  // tokens 3+ trigram — conservation by construction
  private val knTrigramQualitySql = {
    import graft.functions.Portable.sqlWords
    s"""WITH w0 AS (SELECT doc_id, $sqlWords ws FROM documents),
       |d AS (SELECT doc_id, ws FROM w0 WHERE len(ws) >= 1),
       |tok AS (SELECT doc_id, unnest(ws) w FROM d),
       |c AS (SELECT w, CAST(count(*) AS BIGINT) cnt FROM tok GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) n_total FROM tok),
       |bg AS (SELECT doc_id, ws[i] u, ws[i + 1] v
       |       FROM d, LATERAL unnest(range(1, len(ws))) t(i)
       |       WHERE len(ws) >= 2),
       |cb AS (SELECT u, v, CAST(count(*) AS BIGINT) cuv
       |       FROM bg GROUP BY 1, 2),
       |cu AS (SELECT u, CAST(sum(cuv) AS BIGINT) cu,
       |         CAST(count(*) AS BIGINT) n1u FROM cb GROUP BY 1),
       |nv AS (SELECT v, CAST(count(*) AS BIGINT) n1v FROM cb GROUP BY 1),
       |ty AS (SELECT CAST(count(*) AS BIGINT) t_types FROM cb),
       |tg AS (SELECT doc_id, ws[i] u, ws[i + 1] v, ws[i + 2] w
       |       FROM d, LATERAL unnest(range(1, len(ws) - 1)) t(i)
       |       WHERE len(ws) >= 3),
       |t3 AS (SELECT doc_id, u, v, w, CAST(count(*) AS BIGINT) ttf
       |       FROM tg GROUP BY 1, 2, 3, 4),
       |c3 AS (SELECT u, v, w, CAST(sum(ttf) AS BIGINT) ctf
       |       FROM t3 GROUP BY 1, 2, 3),
       |cx AS (SELECT u, v, CAST(sum(ctf) AS BIGINT) c2x,
       |         CAST(count(*) AS BIGINT) n1p_uv FROM c3 GROUP BY 1, 2),
       |pw AS (SELECT v, w, CAST(count(*) AS BIGINT) cpvw
       |       FROM c3 GROUP BY 1, 2),
       |pc AS (SELECT v, CAST(sum(cpvw) AS BIGINT) cpv,
       |         CAST(count(*) AS BIGINT) n1p_v FROM pw GROUP BY 1),
       |f1 AS (SELECT d.doc_id, CAST(1 AS BIGINT) btf,
       |         length(printf('%b', n_total // cnt)) - 1 bits
       |       FROM d JOIN c ON c.w = ws[1], n),
       |f2 AS (SELECT d.doc_id, CAST(1 AS BIGINT) btf,
       |         length(printf('%b', (4 * cu.cu * t_types)
       |           // ((4 * cb.cuv - 3) * t_types
       |               + 3 * cu.n1u * nv.n1v))) - 1 bits
       |       FROM d JOIN cb ON cb.u = ws[1] AND cb.v = ws[2]
       |         JOIN cu ON cu.u = ws[1] JOIN nv ON nv.v = ws[2], ty
       |       WHERE len(ws) >= 2),
       |f3 AS (SELECT t3.doc_id, t3.ttf btf,
       |         length(printf('%b', (16 * cx.c2x * pc.cpv * t_types)
       |           // ((4 * c3.ctf - 3) * 4 * pc.cpv * t_types
       |               + 3 * cx.n1p_uv * ((4 * pw.cpvw - 3) * t_types
       |                 + 3 * pc.n1p_v * nv.n1v)))) - 1 bits
       |       FROM t3
       |         JOIN c3 ON c3.u = t3.u AND c3.v = t3.v AND c3.w = t3.w
       |         JOIN cx ON cx.u = t3.u AND cx.v = t3.v
       |         JOIN pw ON pw.v = t3.v AND pw.w = t3.w
       |         JOIN pc ON pc.v = t3.v
       |         JOIN nv ON nv.v = t3.w, ty),
       |s AS (SELECT doc_id, CAST(sum(btf) AS BIGINT) n_tokens,
       |        CAST(sum(btf * bits) AS BIGINT) sum_bits,
       |        CAST(sum(btf * bits) * 1000 // sum(btf) AS BIGINT)
       |          surprisal_milli
       |      FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2
       |            UNION ALL SELECT * FROM f3)
       |      GROUP BY 1),
       |h AS (SELECT surprisal_milli sv, count(*) cnt FROM s GROUP BY 1),
       |cc AS (SELECT sv, CAST(sum(cnt) OVER (ORDER BY sv
       |         ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM h),
       |nn AS (SELECT CAST(count(*) AS BIGINT) n FROM s),
       |t AS (SELECT min(CASE WHEN cum * 3 >= n THEN sv END) t1,
       |        min(CASE WHEN cum * 3 >= 2 * n THEN sv END) t2
       |      FROM cc, nn)
       |SELECT doc_id, n_tokens, sum_bits, surprisal_milli,
       |  CASE WHEN surprisal_milli <= t1 THEN 'head'
       |       WHEN surprisal_milli <= t2 THEN 'middle'
       |       ELSE 'tail' END bucket
       |FROM s, t""".stripMargin
  }

  // q254 replay: q250's chain plus the 4-gram tables (doc-grain tf,
  // corpus counts, context fold, trigram-continuation folds) and the
  // 64·ctx3·c'(uv)·c'(v)·T common-denominator ratio; token 1 unigram,
  // token 2 bigram-KN, token 3 trigram-KN, tokens 4+ 4-gram —
  // conservation by construction
  private val knFourgramQualitySql = {
    import graft.functions.Portable.sqlWords
    s"""WITH w0 AS (SELECT doc_id, $sqlWords ws FROM documents),
       |d AS (SELECT doc_id, ws FROM w0 WHERE len(ws) >= 1),
       |tok AS (SELECT doc_id, unnest(ws) w FROM d),
       |c AS (SELECT w, CAST(count(*) AS BIGINT) cnt FROM tok GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) n_total FROM tok),
       |bg AS (SELECT doc_id, ws[i] u, ws[i + 1] v
       |       FROM d, LATERAL unnest(range(1, len(ws))) t(i)
       |       WHERE len(ws) >= 2),
       |cb AS (SELECT u, v, CAST(count(*) AS BIGINT) cuv
       |       FROM bg GROUP BY 1, 2),
       |cu AS (SELECT u, CAST(sum(cuv) AS BIGINT) cu,
       |         CAST(count(*) AS BIGINT) n1u FROM cb GROUP BY 1),
       |nv AS (SELECT v, CAST(count(*) AS BIGINT) n1v FROM cb GROUP BY 1),
       |ty AS (SELECT CAST(count(*) AS BIGINT) t_types FROM cb),
       |tg AS (SELECT doc_id, ws[i] u, ws[i + 1] v, ws[i + 2] w
       |       FROM d, LATERAL unnest(range(1, len(ws) - 1)) t(i)
       |       WHERE len(ws) >= 3),
       |t3 AS (SELECT doc_id, u, v, w, CAST(count(*) AS BIGINT) ttf
       |       FROM tg GROUP BY 1, 2, 3, 4),
       |c3 AS (SELECT u, v, w, CAST(sum(ttf) AS BIGINT) ctf
       |       FROM t3 GROUP BY 1, 2, 3),
       |cx AS (SELECT u, v, CAST(sum(ctf) AS BIGINT) c2x,
       |         CAST(count(*) AS BIGINT) n1p_uv FROM c3 GROUP BY 1, 2),
       |pw AS (SELECT v, w, CAST(count(*) AS BIGINT) cpvw
       |       FROM c3 GROUP BY 1, 2),
       |pc AS (SELECT v, CAST(sum(cpvw) AS BIGINT) cpv,
       |         CAST(count(*) AS BIGINT) n1p_v FROM pw GROUP BY 1),
       |qg AS (SELECT doc_id, ws[i] t, ws[i + 1] u, ws[i + 2] v,
       |         ws[i + 3] w
       |       FROM d, LATERAL unnest(range(1, len(ws) - 2)) q(i)
       |       WHERE len(ws) >= 4),
       |t4 AS (SELECT doc_id, t, u, v, w, CAST(count(*) AS BIGINT) qtf
       |       FROM qg GROUP BY 1, 2, 3, 4, 5),
       |c4 AS (SELECT t, u, v, w, CAST(sum(qtf) AS BIGINT) c4f
       |       FROM t4 GROUP BY 1, 2, 3, 4),
       |x3 AS (SELECT t, u, v, CAST(sum(c4f) AS BIGINT) c3x,
       |         CAST(count(*) AS BIGINT) n1p_tuv FROM c4 GROUP BY 1, 2, 3),
       |p3 AS (SELECT u, v, w, CAST(count(*) AS BIGINT) cp3
       |       FROM c4 GROUP BY 1, 2, 3),
       |pu AS (SELECT u, v, CAST(sum(cp3) AS BIGINT) cpuv,
       |         CAST(count(*) AS BIGINT) n1pp_uv FROM p3 GROUP BY 1, 2),
       |f1 AS (SELECT d.doc_id, CAST(1 AS BIGINT) btf,
       |         length(printf('%b', n_total // cnt)) - 1 bits
       |       FROM d JOIN c ON c.w = ws[1], n),
       |f2 AS (SELECT d.doc_id, CAST(1 AS BIGINT) btf,
       |         length(printf('%b', (4 * cu.cu * t_types)
       |           // ((4 * cb.cuv - 3) * t_types
       |               + 3 * cu.n1u * nv.n1v))) - 1 bits
       |       FROM d JOIN cb ON cb.u = ws[1] AND cb.v = ws[2]
       |         JOIN cu ON cu.u = ws[1] JOIN nv ON nv.v = ws[2], ty
       |       WHERE len(ws) >= 2),
       |f3 AS (SELECT d.doc_id, CAST(1 AS BIGINT) btf,
       |         length(printf('%b', (16 * cx.c2x * pc.cpv * t_types)
       |           // ((4 * c3.ctf - 3) * 4 * pc.cpv * t_types
       |               + 3 * cx.n1p_uv * ((4 * pw.cpvw - 3) * t_types
       |                 + 3 * pc.n1p_v * nv.n1v)))) - 1 bits
       |       FROM d
       |         JOIN c3 ON c3.u = ws[1] AND c3.v = ws[2] AND c3.w = ws[3]
       |         JOIN cx ON cx.u = ws[1] AND cx.v = ws[2]
       |         JOIN pw ON pw.v = ws[2] AND pw.w = ws[3]
       |         JOIN pc ON pc.v = ws[2]
       |         JOIN nv ON nv.v = ws[3], ty
       |       WHERE len(ws) >= 3),
       |f4 AS (SELECT t4.doc_id, t4.qtf btf,
       |         length(printf('%b',
       |           (64 * x3.c3x * pu.cpuv * pc.cpv * t_types)
       |           // ((4 * c4.c4f - 3) * 16 * pu.cpuv * pc.cpv * t_types
       |               + 3 * x3.n1p_tuv * ((4 * p3.cp3 - 3) * 4 * pc.cpv
       |                   * t_types
       |                 + 3 * pu.n1pp_uv * ((4 * pw.cpvw - 3) * t_types
       |                   + 3 * pc.n1p_v * nv.n1v))))) - 1 bits
       |       FROM t4
       |         JOIN c4 ON c4.t = t4.t AND c4.u = t4.u AND c4.v = t4.v
       |           AND c4.w = t4.w
       |         JOIN x3 ON x3.t = t4.t AND x3.u = t4.u AND x3.v = t4.v
       |         JOIN p3 ON p3.u = t4.u AND p3.v = t4.v AND p3.w = t4.w
       |         JOIN pu ON pu.u = t4.u AND pu.v = t4.v
       |         JOIN pw ON pw.v = t4.v AND pw.w = t4.w
       |         JOIN pc ON pc.v = t4.v
       |         JOIN nv ON nv.v = t4.w, ty),
       |s AS (SELECT doc_id, CAST(sum(btf) AS BIGINT) n_tokens,
       |        CAST(sum(btf * bits) AS BIGINT) sum_bits,
       |        CAST(sum(btf * bits) * 1000 // sum(btf) AS BIGINT)
       |          surprisal_milli
       |      FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2
       |            UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
       |      GROUP BY 1),
       |h AS (SELECT surprisal_milli sv, count(*) cnt FROM s GROUP BY 1),
       |cc AS (SELECT sv, CAST(sum(cnt) OVER (ORDER BY sv
       |         ROWS UNBOUNDED PRECEDING) AS BIGINT) cum FROM h),
       |nn AS (SELECT CAST(count(*) AS BIGINT) n FROM s),
       |t AS (SELECT min(CASE WHEN cum * 3 >= n THEN sv END) t1,
       |        min(CASE WHEN cum * 3 >= 2 * n THEN sv END) t2
       |      FROM cc, nn)
       |SELECT doc_id, n_tokens, sum_bits, surprisal_milli,
       |  CASE WHEN surprisal_milli <= t1 THEN 'head'
       |       WHEN surprisal_milli <= t2 THEN 'middle'
       |       ELSE 'tail' END bucket
       |FROM s, t""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_ccnet_buckets" ->
      ((s: SparkSession, d: String) => ccnetBucketsCached(s, d)),
    "q225_gram_novelty" -> gramNovelty,
    "q226_eval_slate" ->
      ((s: SparkSession, d: String) => evalSlateCached(s, d)),
    "q227_bucket_budget" -> bucketBudget,
    "q243_repeat_epochs" -> repeatEpochs,
    "q229_bigram_quality" -> bigramQuality,
    "q236_kn_quality" -> knBigramQuality,
    "q250_kn3_quality" -> knTrigramQuality,
    "q254_kn4_quality" -> knFourgramQuality)

  val oracle: Map[String, String] = Map(
    "q224_ccnet_buckets" -> ccnetBucketsSql,
    "q225_gram_novelty" -> gramNoveltySql,
    "q226_eval_slate" -> evalSlateSql,
    "q227_bucket_budget" -> bucketBudgetSql,
    "q243_repeat_epochs" -> repeatEpochsSql,
    "q229_bigram_quality" -> bigramQualitySql,
    "q236_kn_quality" -> knBigramQualitySql,
    "q250_kn3_quality" -> knTrigramQualitySql,
    "q254_kn4_quality" -> knFourgramQualitySql)
}

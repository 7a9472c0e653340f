package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.operators.Checkpoints._
import graft.sources.Tables

/** Text-analysis operators over `documents` — language ID, quality
  * scoring, token counting, fingerprinting. All four are ROW-LOCAL
  * (pure projections built from higher-order functions over the token
  * array): zero shuffles, embarrassingly parallel at any scale, and the
  * plans are a single WholeStageCodegen span over the parquet scan.
  *
  * Numeric discipline: counts/scores are exact integers; ratios are one
  * final double division of exact integers, so the DuckDB oracle
  * hash-matches bit-for-bit.
  */
object TextAnalysis extends graft.Module {

  /** Per-language signature words (chosen from the corpus' per-language
    * frequency skew — each language's documents over-sample its three
    * signature words). Sorted by language code so the argmax tiebreak
    * (smallest language code wins) is explicit.
    */
  private val sigs: List[(String, Seq[String])] = List(
    "de" -> Seq("customer", "big", "key"),
    "en" -> Seq("order", "table", "window"),
    "es" -> Seq("slow", "agg", "merge"),
    "fr" -> Seq("scan", "data", "query"),
    "zh" -> Seq("join", "small", "the"))

  /** q21: n-gram-frequency language ID. Score per language = signature
    * word hits (with multiplicity); prediction = argmax, ties to the
    * lexicographically smallest code. Implemented as a row-local
    * sort_array over (−score, lang) structs — no explode, no shuffle.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("actual_lang"),
        words(col("text")).as("ws"))
    d.withColumn("best", element_at(sort_array(array(sigs.map { case (l, ss) =>
        struct(
          (-size(filter(col("ws"), w => w.isInCollection(ss)))).as("negscore"),
          lit(l).as("lang"))
      }: _*)), 1))
      .select(col("doc_id"), col("actual_lang"),
        col("best.lang").as("pred_lang"),
        (-col("best.negscore")).as("score"))
  }

  private[operators] val stops = Seq("the", "a", "of", "and")

  /** q22: document quality scoring — length, lexical diversity,
    * stopword ratio, and an integer-threshold bucket.
    */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        size(array_distinct(col("ws"))).as("n_uniq"),
        aggregate(transform(col("ws"), w => length(w)), lit(0),
          (a, x) => a + x).as("total_wchars"),
        size(filter(col("ws"), w => w.isInCollection(stops))).as("n_stop"))
      // nullif: a zero-word doc yields NULL ratios on BOTH engines
      // (Spark's ANSI division would throw; DuckDB's would NULL anyway)
      .withColumn("avg_word_len",
        col("total_wchars").cast("double") / nullif(col("n_words"), lit(0)))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / nullif(col("n_words"), lit(0)))
      .withColumn("quality_bucket",
        when(col("n_words") < 40, "short")
          .when(col("n_stop") * 5 >= col("n_words"), "stopword_heavy")
          .when(col("n_uniq") * 3 <= col("n_words"), "repetitive")
          .otherwise("ok"))

  /** q23: token counting — whitespace tokens and regex word tokens
    * (the BPE-ish pre-tokenisation pass), plus chars-per-token.
    */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(words(col("text"))).as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).as("n_alpha_tokens"),
        length(col("text")).as("n_chars_m"))
      .withColumn("chars_per_token",
        col("n_chars_m").cast("double") / nullif(col("n_ws_tokens"), lit(0)))

  /** q24: winnowing document fingerprint — rolling char-8-gram hashes,
    * min per 4-gram window, distinct survivors. The standard local
    * fingerprint for plagiarism/copy detection, kept row-local.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // spread the per-position md5 work: testdata is a single-split
      // parquet file; a real corpus is pre-split across many files
      .repartition(spark.sparkContext.defaultParallelism)
      .filter(length(col("text")) >= 11) // >= 4 grams => >= 1 window
      .select(col("doc_id"),
        graft.functions.HashOps.gram_hash60(col("text"), 8).as("hs"))
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(1), size(col("hs")) - 3), j =>
          least(element_at(col("hs"), j), element_at(col("hs"), j + 1),
            element_at(col("hs"), j + 2), element_at(col("hs"), j + 3))))
          .as("fps"))
      .select(col("doc_id"),
        size(col("fps")).as("n_fps"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"))

  /** q33: corpus-level TF-IDF — term frequency per (doc, word), document
    * frequency across the corpus, top-3 terms per doc by score.
    *
    * Exactness: idf is kept rational — `idf_milli = (N*1000) DIV df` —
    * so the score `tf * idf_milli` is exact integer math (a float
    * `ln(N/df)` would be libm-dependent and break the oracle hash).
    *
    * Scale shape: tf is one shuffle on (doc_id, word) with map-side
    * partials; df reuses the tf result (one more shuffle on word,
    * counting rows = distinct docs by construction); the df side is
    * vocabulary-sized and broadcast back onto tf; top-k per doc is a
    * window over millions of doc partitions — no single hot partition.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      // feeds both the df aggregation and the score join — materialise
      // the exploded+shuffled term table once (see Dedup for the
      // cluster-scale analog: persist the term table explicitly)
      .cp()
    // corpus size stays in-plan (broadcast 1-row aggregate) — no job
    // runs until the caller executes the returned DataFrame
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"))
    // tf has exactly one row per (doc, word) => df = row count per word
    val df = withScalar(
        tf.groupBy(col("w")).agg(count(lit(1)).as("df")), nDocs)
      .withColumn("idf_milli", expr("n_docs * 1000 DIV df"))
      .drop("n_docs")
    val scored = tf.join(broadcast(df), "w")
      .withColumn("score_milli", col("tf") * col("idf_milli"))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_milli").desc, col("w").asc)
    scored.withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("w"), col("tf"), col("df"),
        col("score_milli"))
  }

  /** q56: EXACT corpus quantiles of document length — p50/p75/p90/p99
    * of `n_chars` by global rank selection, not an approximate sketch:
    * rank every row with the q55 two-phase ranker (one range shuffle +
    * broadcast offsets), compute the target ranks in-plan from a 1-row
    * count aggregate, and keep the rows whose rank hits a target.
    * `approx_percentile` trades accuracy for one pass; this is the
    * exact path for when the number matters (e.g. sequence-length
    * budget decisions), at the cost of the sort shuffle — still fully
    * distributed, no single-partition window anywhere.
    */
  def quantiles(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Relational.withGlobalRank(
      Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
      Seq(col("n_chars").asc, col("doc_id").asc))
    val targets = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n"))
      .select(explode(array(Seq(250, 500, 750, 900, 990).map(lit): _*))
        .as("p_milli"), col("n"))
      .withColumn("trank", expr("(p_milli * n + 999) DIV 1000"))
    ranked.join(broadcast(targets), col("rnk") === col("trank"))
      .select(col("p_milli"), col("trank"), col("n_chars"))
  }

  /** q90's HLL relative-standard-deviation (Spark's default) and the
    * checked containment bound: 200 milli ≈ 4σ at rsd 5% — wide enough
    * that a correct sketch always passes, tight enough that a broken
    * one (or a silently changed default) fails the hash gate.
    */
  private val HllRsd = 0.05
  private val HllBoundMilli = 200L
  private val PctEpsMilli = 50 // exact-quantile containment half-width

  /** q90: APPROXIMATE telemetry with a CHECKED error contract — the
    * one-pass sketches a 100 TB dashboard runs where exactness is
    * wasted cost (`approx_count_distinct` HLL++, `percentile_approx`
    * KLL-style), each CHECKED in-plan against its exact counterpart:
    * distinct sketches must land within [[HllBoundMilli]]‰ of the
    * exact distinct count; percentile sketches must land between the
    * EXACT quantiles at p ± [[PctEpsMilli]]‰ (q56's rank-selection
    * machinery). The output carries the exact value and the bound
    * verdict — so the DuckDB oracle (exact values, `true`) hash-matches
    * iff every sketch honored its bound: the error contract IS the
    * correctness gate. Sketches are deterministic for a given dataset,
    * so the check is stable per SF.
    *
    * Scale shape: the sketch side is exactly what production runs —
    * one pass, constant-size state per sketch, map-side partials. The
    * exact side exists to price the contract and reuses the q55/q56
    * distributed ranker (no single-partition anything).
    */
  def approxStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def hllRow(metric: String, a: Column, x: Column) =
      struct(lit(metric).as("metric"), x.as("exact_value"),
        (abs(a - x) * 1000 <= lit(HllBoundMilli) * x).as("within_bound"))
    val hll = ev.agg(
        approx_count_distinct(col("user_id"), HllRsd).as("a_users"),
        countDistinct(col("user_id")).as("x_users"),
        approx_count_distinct(col("event_id"), HllRsd).as("a_events"),
        countDistinct(col("event_id")).as("x_events"))
      .select(explode(array(
        hllRow("distinct_users", col("a_users"), col("x_users")),
        hllRow("distinct_events", col("a_events"), col("x_events"))))
        .as("s"))
      .select(col("s.metric"), col("s.exact_value"), col("s.within_bound"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    val ranked = Relational.withGlobalRank(docs,
      Seq(col("n_chars").asc, col("doc_id").asc))
    val pms = Seq(500, 900).flatMap(p => Seq(p - PctEpsMilli, p, p + PctEpsMilli))
    val targets = docs.agg(count(lit(1)).as("n"))
      .select(explode(array(pms.map(lit): _*)).as("pm"), col("n"))
      .withColumn("trank", expr("(pm * n + 999) DIV 1000"))
    val qCols = Seq(450, 500, 550, 850, 900, 950).map(p =>
      max(when(col("pm") === p, col("n_chars"))).as(s"q$p"))
    val exact = ranked.join(broadcast(targets), col("rnk") === col("trank"))
      .groupBy().agg(qCols.head, qCols.tail: _*)
    val approx = docs.agg(
      percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("a500"),
      percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("a900"))
    def pctRow(metric: String, a: Column, lo: Column, mid: Column, hi: Column) =
      struct(lit(metric).as("metric"), mid.cast("long").as("exact_value"),
        a.between(lo, hi).as("within_bound"))
    val pct = withScalar(approx, exact)
      .select(explode(array(
        pctRow("p500_chars", col("a500"), col("q450"), col("q500"), col("q550")),
        pctRow("p900_chars", col("a900"), col("q850"), col("q900"), col("q950"))))
        .as("s"))
      .select(col("s.metric"), col("s.exact_value"), col("s.within_bound"))
    hll.unionByName(pct)
  }

  /** q94: UNIGRAM-LM QUALITY SCORE — the CCNet-style language-model
    * filter signal, made engine-portable and exactly integer: train a
    * unigram LM on the corpus itself (token frequencies), then score
    * each document by its mean per-token SURPRISAL in whole bits —
    * `bits(w) = floor(log2(N_total / cnt(w)))`, computed exactly as
    * `length(bin(N DIV cnt)) - 1` (no floating log anywhere, so the
    * DuckDB oracle — `printf('%b')` — hash-matches bit-for-bit). Low
    * scores flag stopword/boilerplate-heavy docs, high scores flag
    * rare-token noise; production pipelines keep the middle band
    * (CCNet's head/middle/tail split over LM perplexity).
    *
    * Scale shape: the tf table is the q33 tfidf shuffle reused
    * (map-side partials, (doc, word) grain); the LM is a per-word
    * aggregate of it; scoring is one equi-join on word (AQE broadcasts
    * the vocab while it fits, shuffles when it doesn't) and one
    * per-doc aggregate. Training corpus = scoring corpus here; a real
    * deployment trains once and reuses the vocab table across drops.
    */
  def lmQuality(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      // feeds the LM aggregate, the corpus total AND the score join
      .cp()
    val cnt = tf.groupBy(col("w")).agg(sum(col("tf")).as("cnt"))
    val total = tf.agg(sum(col("tf")).as("n_total"))
    val bits = withScalar(cnt, total)
      .withColumn("bits", expr("length(bin(n_total DIV cnt)) - 1"))
      .select(col("w"), col("bits"))
    tf.join(bits, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("bits")).as("sum_bits"))
      .withColumn("surprisal_milli", expr("sum_bits * 1000 DIV n_tokens"))
  }

  /** Sequence-packing budget (tokens per training sequence) and shard
    * granularity (docs per shard) for q57.
    */
  val SeqLen = 2048
  val ShardDocs = 200

  /** q57: SEQUENCE PACKING — concatenate documents into a token stream
    * and chunk it into fixed-[[SeqLen]] training sequences, the step
    * between curation and training. Each doc gets its stream offset
    * (running token count) and the id of the sequence its first token
    * lands in; docs straddle boundaries exactly as a real concat-packed
    * pretraining pipeline does.
    *
    * Scale shape: the stream is sharded by (lang, doc_id DIV
    * [[ShardDocs]]) so the running-sum window never sees more than
    * [[ShardDocs]] rows — bounded state, one shuffle, any corpus size.
    * A global (unsharded) stream would serialize the whole corpus
    * through one partition; per-shard streams are what distributed
    * packing actually ships (each shard becomes an output file).
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr(s"doc_id DIV $ShardDocs").as("shard"),
        size(words(col("text"))).as("n_tokens"))
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_off"),
        expr(s"(cum - n_tokens) DIV $SeqLen").as("seq_id"))
  }

  /** q71: corpus HEAVY HITTERS — the top-30 vocabulary terms by total
    * occurrences, with document frequency. Two exact aggregation phases
    * — (doc, word) term counts then per-word totals, both with map-side
    * partials — and the final top-k is `orderBy(...).limit(30)`, which
    * Spark plans as TakeOrderedAndProject: every task keeps a 30-row
    * heap and the driver merges numPartitions×30 survivors, so the
    * global sort of the vocabulary never happens. The (count, word)
    * order is strict, so the cut at rank 30 is deterministic.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("w"))
      .agg(sum(col("tf")).as("n_occur"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occur").desc, col("w").asc)
      .limit(30)
  }

  private val CmsD = 4 // hash rows (pairwise-independent via salt)
  private val CmsW = 2048 // buckets per row
  private val CmsTopN = 20

  /** q152: COUNT-MIN SKETCH point queries — the mergeable FREQUENCY
    * sketch completing the sketch family (q134/q138 HLL: distinct;
    * q147 quantile; q151 KMV: Jaccard): a [[CmsD]]×[[CmsW]] counter
    * matrix where every token occurrence increments one bucket per
    * hash row, and a token's frequency estimate is the MIN of its
    * [[CmsD]] bucket counters. `ge_ok` is a THEOREM, not a statistical
    * verdict (each bucket counts a superset of the token's
    * occurrences, so est ≥ exact always — pinned 1 in the oracle as a
    * hard fact); the overcount is bounded by colliding mass,
    * E[est−exact] ≤ N/[[CmsW]] per row before the min. The estimate
    * itself is deterministic integer arithmetic, so the oracle
    * REBUILDS the identical sketch and the hash gate pins the
    * estimator, not just the verdict (the q151 discipline).
    *
    * Scale: the sketch is ONE shuffle of at most D·W keys with
    * map-side partials — counter matrices sum cell-wise, so per-split
    * sketches merge without rescanning (the CRDT property every
    * streaming/nightly frequency monitor needs); state is D·W longs,
    * metadata-tier, vs a vocabulary-sized exact table. The exact side
    * here exists to check the contract at test scale (q90 discipline);
    * the probe set is the exact top-[[CmsTopN]] so the check runs
    * where collisions matter most (heavy mass).
    */
  def cmsHeavy(spark: SparkSession, dir: String): DataFrame = {
    // spread measured and REJECTED (r15 §1 discipline): the CmsD
    // hash60 evaluations per token ARE the md5-heavy row-local ladder
    // the guarded repartition exists for (probe: 6 stages of 1 task
    // each), but both branches re-scan the corpus, so spreading doubles
    // the added exchanges and the 32-task stages cost more scheduling
    // than the one-core hashing saves at this corpus — A/B probes
    // 0.61-0.67 s without vs 0.91 s with (the "with" arm measured at
    // LOWER steal). Revisit only with a shared materialized token
    // frame.
    val toks = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("w"))
    def rb(c: Column): Column = explode(array((0 until CmsD).map(r =>
      struct(lit(r).as("r"),
        pmod(hash60(concat(lit(s"cms$r:"), c)), lit(CmsW.toLong))
          .as("b"))): _*))
    val cells = toks.select(rb(col("w")).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val top = toks.groupBy(col("w")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("w").asc).limit(CmsTopN)
    val probes = top.select(col("w"), col("exact_n"), rb(col("w")).as("rb"))
      .select(col("w"), col("exact_n"),
        col("rb.r").as("r"), col("rb.b").as("b"))
    cells.join(broadcast(probes), Seq("r", "b"))
      .groupBy(col("w"), col("exact_n"))
      .agg(min(col("cnt")).as("est_n"))
      .select(col("w"), col("exact_n"), col("est_n"),
        (col("est_n") >= col("exact_n")).cast("int").as("ge_ok"))
  }

  private[operators] val RagW = 64 // chunk window (tokens)
  private[operators] val RagStride = 48 // stride => 16-token overlap between chunks

  /** q166: OVERLAPPING CHUNK WINDOWS — RAG/embedding-ingest chunking:
    * each document becomes sliding [[RagW]]-token windows at stride
    * [[RagStride]] (16-token overlap, so a sentence straddling a cut
    * is whole in the next chunk — the retrieval-quality property
    * fixed disjoint chunks like q66's dedup strides don't need). Per
    * chunk: position metadata (reconstruction contract: chunk i
    * covers tokens [i·stride, i·stride+W)), token count (the tail
    * chunk may be short, but a doc shorter than W still yields ONE
    * chunk), and the 60-bit content hash an embedding cache keys on.
    *
    * Scale: pure row-local explode — one codegen span over the scan,
    * output ∝ tokens·(W/stride); no shuffle anywhere. The hash column
    * means downstream embedding jobs dedup identical chunks (q14 on
    * chunk_hash) before paying GPU time.
    */
  def ragChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("ws"),
        // chunk count: floor((n-1-overlap)/stride)+1, min 1 — both
        // engines clamp the negative-numerator case to 0, so DIV
        // truncation vs // flooring cannot diverge
        explode(sequence(lit(0), greatest(
          expr(s"(size(ws) - ${1 + RagW - RagStride}) DIV $RagStride")
            .cast("int"),
          lit(0)))).as("ci"))
      .select(col("doc_id"), col("ci").as("chunk_idx"),
        (col("ci") * RagStride).as("start_tok"),
        slice(col("ws"), col("ci") * RagStride + 1, lit(RagW)).as("cw"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        size(col("cw")).cast("long").as("n_tokens"),
        hash60(array_join(col("cw"), " ")).as("chunk_hash"))

  private val DriftTopK = 30 // tokens audited (by combined count)
  private val DriftPpm = 2000L // flag threshold: rate shift >= 2000 ppm

  /** q164: VOCABULARY DRIFT AUDIT — per-token occurrence-rate shift
    * between two corpus slices (doc_id parity stands in for
    * yesterday/today or source-A/source-B): for the top-[[DriftTopK]]
    * tokens by combined count, each slice's rate in parts-per-million
    * (integer: `10⁶·n DIV N`) and a `shifted` flag at [[DriftPpm]].
    * This is the cheap canary a corpus-refresh pipeline runs before
    * retraining — a scraper change or a source swap shows up as rate
    * shifts in head tokens long before any model metric moves. Rates
    * are integer per-million (not chi²: the squared-count numerators
    * overflow BIGINT at corpus scale, and a determinism contract that
    * only holds below 2⁶³ is not a contract), so the oracle replays
    * every value exactly.
    *
    * Scale: two conditional aggregates in ONE token-keyed shuffle
    * (map-side partials), a scalar broadcast for the slice totals —
    * re-aggregated from the vocabulary-sized per-token counts
    * (Σ na ≡ slice A's token total), NOT from a second corpus pass —
    * and a TakeOrdered top-k; no joins between the slices, no second
    * scan (the per-token table is checkpointed so both consumers read
    * one materialization).
    */
  def vocabDrift(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select((col("doc_id") % 2 === 0).as("in_a"),
        explode(words(col("text"))).as("w"))
    val counts = toks.groupBy(col("w"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("nb"))
      .cp() // feeds the drift table AND the slice totals
    val totals = counts.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    graft.functions.Portable.withScalar(counts, totals)
      .withColumn("ra_ppm", expr("(1000000 * na) DIV ta"))
      .withColumn("rb_ppm", expr("(1000000 * nb) DIV tb"))
      .withColumn("delta_ppm", abs(col("ra_ppm") - col("rb_ppm")))
      .orderBy((col("na") + col("nb")).desc, col("w").asc)
      .limit(DriftTopK)
      .select(col("w"), col("na"), col("nb"), col("ra_ppm"), col("rb_ppm"),
        col("delta_ppm"),
        (col("delta_ppm") >= DriftPpm).cast("int").as("shifted"))
  }

  private val HeadKs = Seq(5, 20, 10000) // vocabulary budgets audited —
  // two head points that genuinely cut the test corpus' vocabulary
  // (so the rank sums are exercised, not saturated) plus a
  // production-scale budget; real deployments audit 2^k ladders

  /** q179: VOCABULARY HEAD-COVERAGE CURVE — for each candidate
    * vocabulary budget K in [[HeadKs]], the exact fraction of all
    * corpus token OCCURRENCES covered by the top-K terms (integer
    * milli). This is the tokenizer-budget planning number — how big a
    * vocabulary must be before OOV/byte-fallback mass becomes
    * negligible — and the Zipf head check a corpus drop is screened
    * with (a drop whose head coverage collapses is boilerplate- or
    * spam-shifted; cf. q164's per-token drift, this is the
    * distribution-level summary).
    *
    * Scale: ONE corpus token shuffle builds the term counts
    * (checkpointed — the ranker and the totals read one
    * materialization); ranking is the q55 two-phase global ranker over
    * the VOCABULARY-sized count table (range shuffle, no
    * single-partition window); the curve itself is one conditional
    * aggregate folded to [[HeadKs]]-many rows. Exact integers end to
    * end.
    */
  def headCoverage(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .cp() // feeds the global ranker AND the totals
    val ranked = Relational.withGlobalRank(cnt,
      Seq(col("n").desc, col("w").asc))
    val tot = cnt.agg(sum(col("n")).as("n_total"),
      count(lit(1)).as("n_vocab"))
    val sums = HeadKs.map(k =>
      sum(when(col("rnk") <= k, col("n"))).as(s"c$k"))
    withScalar(ranked, tot)
      .groupBy(col("n_total"), col("n_vocab"))
      .agg(sums.head, sums.tail: _*)
      .select(col("n_vocab"), col("n_total"),
        explode(array(HeadKs.map(k => struct(lit(k.toLong).as("k"),
          coalesce(col(s"c$k"), lit(0L)).as("c"))): _*)).as("s"))
      .select(col("s.k").as("top_k"), col("n_vocab"), col("n_total"),
        col("s.c").as("covered_tokens"))
      .withColumn("coverage_milli",
        expr("1000 * covered_tokens DIV n_total"))
  }

  /** q73: EXACT grouped median — per-language median token count via a
    * VALUE HISTOGRAM: one (lang, value) count shuffle, a running-sum
    * window over each language's distinct-value histogram (state
    * bounded by the value DOMAIN, not the row count), per-group totals
    * broadcast back, and rank selection of the two middle values
    * (averaged, the even-count convention DuckDB's `median` uses).
    * The scale-correct exact path: Spark's `percentile` buffers every
    * value of a group in one aggregation buffer (OOM at 100 TB group
    * sizes) and `approx_percentile` isn't exact; the histogram shape
    * spills like any hash aggregate and its window never sees more
    * rows than there are distinct token counts per language.
    */
  def groupMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(spark, dir)
      .select(col("lang"), size(words(col("text"))).as("v"))
      .groupBy(col("lang"), col("v")).agg(count(lit(1)).as("cnt"))
    val wcum = Window.partitionBy(col("lang")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wcum))
    val tot = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n_docs"))
      .withColumn("lo", expr("(n_docs + 1) DIV 2"))
      .withColumn("hi", expr("n_docs DIV 2 + 1"))
    cum.join(broadcast(tot), "lang")
      .groupBy(col("lang"), col("n_docs"))
      .agg(min(when(col("cum") >= col("lo"), col("v"))).as("v_lo"),
        min(when(col("cum") >= col("hi"), col("v"))).as("v_hi"))
      // both middles are exact ints < 2^52: the sum and halving are
      // exact IEEE ops, bit-identical to DuckDB's interpolation
      .select(col("lang"), col("n_docs"),
        ((col("v_lo") + col("v_hi")) / 2.0).as("median_tokens"))
  }

  /** q82: BPE PAIR COUNTS — one round of byte-pair-encoding tokenizer
    * training: the top-20 adjacent symbol pairs (characters plus the
    * `</w>` end-of-word marker) by corpus frequency — the statistic a
    * BPE trainer computes to pick each merge. The standard trainer
    * optimization is structural here: pairs are generated from the
    * WORD-FREQUENCY table (vocabulary-sized, weighted by occurrence
    * count), not from every corpus token — at 100 TB the corpus pass
    * is the one word-count shuffle, and the pair explosion runs over a
    * table orders of magnitude smaller than the corpus. Top-k is
    * TakeOrderedAndProject (q71). Subsequent merge rounds re-run the
    * same two aggregations over the re-segmented vocabulary — same
    * plan, vocabulary-sized each time.
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val wf = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    wf.withColumn("s", concat(
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))),
        array(lit("</w>"))))
      .select(col("f"), explode(transform(sequence(lit(1), size(col("s")) - 1),
        i => concat_ws(" ", element_at(col("s"), i),
          element_at(col("s"), i + 1)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(20)
  }

  /** Doubled grouped median — `lo + hi` (2× the median, an exact
    * integer) per group, by q73's histogram rank selection. Shared by
    * [[groupMedian]]'s public form and [[robustOutliers]]' two-level
    * median-of-deviations.
    */
  private def med2(df: DataFrame, vcol: String, out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.groupBy(col("lang"), col(vcol)).agg(count(lit(1)).as("cnt"))
    val wcum = Window.partitionBy(col("lang")).orderBy(col(vcol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wcum))
    val tot = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
      .withColumn("lo", expr("(n + 1) DIV 2"))
      .withColumn("hi", expr("n DIV 2 + 1"))
    cum.join(broadcast(tot), "lang")
      .groupBy(col("lang"))
      .agg((min(when(col("cum") >= col("lo"), col(vcol))) +
        min(when(col("cum") >= col("hi"), col(vcol)))).as(out))
  }

  /** q87: ROBUST OUTLIER DETECTION — per-language median/MAD screening
    * of document token counts, the outlier filter a curation pipeline
    * runs where mean/stddev would be dragged by the very outliers it
    * hunts. Exactness trick: every quantity stays integer until the
    * final division — the doubled median `lo+hi`, deviations as
    * `|2v − (lo+hi)|`, the quadrupled MAD `d_lo+d_hi`, and the outlier
    * test `dev2 > mad4` (the integer form of |v−med| > 2·MAD; the 2×
    * screening constant is calibrated so the test corpus exercises
    * both outlier and clean branches — at 3× nothing in this tight
    * synthetic distribution trips) —
    * so the DuckDB `median`/`mad` oracle hash-matches bit-for-bit.
    *
    * Scale shape: two rounds of the q73 histogram machinery (state
    * bounded by the value domain per group, never by group size) plus
    * two broadcast joins of language-cardinality tables; the corpus is
    * scanned twice (once per histogram level), both passes row-local
    * before their single keyed shuffle.
    */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("lang"), size(words(col("text"))).as("v"))
    val m = med2(d, "v", "med2")
    val dev = d.join(broadcast(m), "lang")
      .withColumn("dev2", abs(col("v") * 2 - col("med2")))
    val dm = med2(dev, "dev2", "mad4")
    dev.join(broadcast(dm), "lang")
      .groupBy(col("lang"), col("med2"), col("mad4"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dev2") > col("mad4"), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col("lang"), col("n_docs"),
        (col("med2") / 2.0).as("median_tokens"),
        (col("mad4") / 4.0).as("mad_tokens"),
        col("n_outliers"))
  }

  private val WinsLoMilli = 50L // winsorize lower cut: p05
  private val WinsHiMilli = 950L // winsorize upper cut: p95

  /** q123: WINSORIZATION — clip per-language token counts to the
    * exact [p05, p95] rank thresholds and report raw vs winsorized
    * means: the robust normalization a feature pipeline applies where
    * q87 only DETECTS outliers. Thresholds come from the q73/q116
    * value-domain histogram machinery (t = smallest v with cum ≥
    * ceil(p·n/1000) — state bounded by distinct values per group,
    * never group size), broadcast back as a language-cardinality
    * table; clipping is then row-local and the final aggregate is one
    * more keyed shuffle. Exact integers until the two mean divisions.
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select(col("lang"), size(words(col("text"))).as("v"))
    val hist = d.groupBy(col("lang"), col("v")).agg(count(lit(1)).as("cnt"))
    val wcum = Window.partitionBy(col("lang")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wcum))
    val tot = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
      .withColumn("lo_rank", expr(s"($WinsLoMilli * n + 999) DIV 1000"))
      .withColumn("hi_rank", expr(s"($WinsHiMilli * n + 999) DIV 1000"))
    val thr = cum.join(broadcast(tot), "lang")
      .groupBy(col("lang"))
      .agg(min(when(col("cum") >= col("lo_rank"), col("v"))).as("t_lo"),
        min(when(col("cum") >= col("hi_rank"), col("v"))).as("t_hi"))
    d.join(broadcast(thr), "lang")
      .withColumn("w", least(greatest(col("v"), col("t_lo")), col("t_hi")))
      .groupBy(col("lang"), col("t_lo"), col("t_hi"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("v") < col("t_lo") || col("v") > col("t_hi"), 1L)
          .otherwise(0L)).as("n_clipped"),
        (sum(col("v")).cast("double") / count(lit(1))).as("mean_raw"),
        (sum(col("w")).cast("double") / count(lit(1))).as("mean_winsorized"))
  }

  /** q124's merge table, rank-ordered. In production this is the
    * trainer's learned output (q82 computes exactly the statistic that
    * picks each row); held constant here so both engines encode the
    * same table. Chains are deliberate: t+h→th→the→the</w>, etc.
    */
  private[graft] val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "the" -> "</w>",
    "e" -> "r", "er" -> "</w>",
    "a" -> "n", "an" -> "</w>",
    "i" -> "n", "in" -> "</w>",
    "o" -> "w", "ow" -> "</w>",
    "s" -> "m", "a" -> "t", "e" -> "y", "ey" -> "</w>")

  /** q124: BPE ENCODE — apply the merge table to every word, in rank
    * order, and report per-doc token counts before/after: the APPLY
    * side of byte-pair encoding (q82 is the trainer's pair-count
    * side). Each word starts as bracket-atomized symbols
    * (`[c][o][l]...[</w>]` — brackets make symbol boundaries explicit,
    * so a plain leftmost non-overlapping `replace` of `[a][b]`→`[ab]`
    * IS the BPE merge step, with identical semantics in both engines)
    * and the 15 merges fold into 15 nested replaces — row-local, one
    * WholeStageCodegen span, zero shuffles at any corpus size.
    */
  /** The q124 per-word kernel, exposed for the property spec: BPE
    * token count of one word under [[bpeMerges]].
    */
  private[graft] def bpeTokens(w: Column): Column =
    bpeTokensUpTo(w, bpeMerges.length)

  /** Token count of one word under only the FIRST `p` merges — the
    * prefix kernel q221's merge-ablation curve sweeps (p = full table
    * ≡ [[bpeTokens]]).
    */
  private[graft] def bpeTokensUpTo(w: Column, p: Int): Column = {
    val init = concat(
      array_join(transform(sequence(lit(1), length(w)), i =>
        concat(lit("["), w.substr(i, lit(1)), lit("]"))), ""),
      lit("[</w>]"))
    val s = bpeMerges.take(p).foldLeft(init) { case (acc, (a, b)) =>
      replace(acc, lit(s"[$a][$b]"), lit(s"[$a$b]"))
    }
    length(s) - length(replace(s, lit("[")))
  }

  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    def tokens(w: Column): Column = bpeTokens(w)
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_words"),
        aggregate(transform(col("ws"), w => length(w) + 1), lit(0L),
          (a, x) => a + x).as("n_char_tokens"),
        aggregate(transform(col("ws"), w => tokens(w)), lit(0L),
          (a, x) => a + x).as("n_bpe_tokens"))
      .withColumn("compression", col("n_char_tokens").cast("double") /
        nullif(col("n_bpe_tokens"), lit(0L)))
  }

  /** q187: TOKENIZER FERTILITY AUDIT — per language, BPE tokens per
    * word in milli: the number multilingual pipelines watch before
    * trusting a shared tokenizer (a language with 3× the fertility of
    * English pays 3× the context budget per word and trains on
    * effectively shorter documents). Uses q124's merge table through
    * the SAME [[bpeTokens]] kernel (and the oracle through
    * [[sqlBpeTokensOfWs]]), so the audit measures the tokenizer the
    * encode path ships. Integer-rational: fertility_milli =
    * 1000·Σtokens DIV Σwords, exact longs end to end.
    *
    * Scale: token counting is row-local (the per-word fold), then ONE
    * aggregation on the language key with map-side partials — the
    * same shape as q21/q23.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), words(col("text")).as("ws"))
      .select(col("lang"), size(col("ws")).cast("long").as("nw"),
        aggregate(transform(col("ws"), w => bpeTokens(w)), lit(0L),
          (a, x) => a + x).as("nb"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("nb")).as("n_bpe_tokens"))
      .withColumn("fertility_milli",
        expr("(1000 * n_bpe_tokens) DIV nullif(n_words, 0)"))

  /** q132: GROUPED FEATURE CORRELATION — exact-sum Pearson r and OLS
    * slope between document char length and token count per language:
    * the feature-redundancy screen a pipeline runs before treating two
    * signals as independent quality features. One shuffle computes all
    * five power sums as exact integers; r and β are then single double
    * expressions over exact operands (`corr()`/`regr_slope()` builtins
    * stream float partials whose summation order is
    * partitioning-dependent — this form is bit-stable cross-engine).
    * Long sums audit: x ≤ 10^4, x²·rows ≤ 2^60 at any per-group count
    * below ~10^10 rows; past that, widen the power sums to decimal
    * exactly as q08 does.
    */
  def correlation(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars").as("x"),
        size(words(col("text"))).cast("long").as("y"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
      .withColumn("cov_n", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("var_x", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("var_y", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("lang"), col("n"),
        (col("cov_n").cast("double") /
          sqrt(nullif(col("var_x").cast("double") * col("var_y").cast("double"),
            lit(0.0)))).as("corr"),
        (col("cov_n").cast("double") /
          nullif(col("var_x").cast("double"), lit(0.0))).as("beta"))

  private val NBuckets = 8 // equal-frequency bins

  /** q116: EQUAL-FREQUENCY BUCKETING — discretize per-document token
    * counts into [[NBuckets]] quantile bins, the feature-engineering
    * step ("length bucket" as a categorical feature / stratification
    * key) that NTILE answers only via a TOTAL-ORDER window — the q55
    * scale-killer. The scalable shape: the q73 value-domain histogram
    * yields the k−1 exact rank thresholds (t_i = smallest v with
    * cum ≥ ceil(i·n/k)), which broadcast back as ONE array row; bucket
    * assignment is then a row-local `size(filter(thrs, t ≤ v))`.
    * Tie-correct by construction: equal values always land in the
    * same bucket (NTILE would split them arbitrarily), which is what
    * makes the assignment deterministic on both engines.
    *
    * Scale: one (value-domain) histogram shuffle + a running-sum
    * window bounded by distinct values, one scalar broadcast, one
    * 7-value array broadcast — the corpus itself is touched by
    * exactly one row-local pass for assignment.
    */
  def equifreqBucketing(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), size(words(col("text"))).as("v"))
    val hist = d.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val wcum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wcum))
    val tot = d.agg(count(lit(1)).as("n"))
    val thrs = withScalar(cum, tot)
      .select(col("v"), col("cum"), col("n"),
        explode(sequence(lit(1), lit(NBuckets - 1))).as("i"))
      .groupBy(col("i"))
      .agg(min(when(col("cum") >= expr(s"(i * n + ${NBuckets - 1}) DIV $NBuckets"),
        col("v"))).as("t"))
      .agg(array_sort(collect_list(col("t"))).as("thrs"))
    withScalar(d, thrs)
      .select(col("doc_id"), col("v"),
        size(filter(col("thrs"), t => t <= col("v"))).as("bucket"))
  }

  private val Bm25Query = Seq("spark", "merge", "vector")
  private val Bm25TopK = 10

  /** q142: BM25 RANKED RETRIEVAL — score every document against a
    * fixed query term set with the Okapi BM25 family (k1 = 1.2,
    * b = 0.75) and return the exact global top-[[Bm25TopK]]: the
    * "find me training docs about X" / eval-set-mining primitive a
    * corpus pipeline serves from its token statistics, composing
    * q33's tf/df tables into a ranked search.
    *
    * Exactness: every factor is integer-scaled rational — libm-free,
    * like q33's idf. With N docs, T total tokens, per-doc length dl:
    *   norm_m   = 250 + (750·dl·N) DIV T          (≈1000·(1−b+b·dl/avgdl))
    *   idf_k    = ((N−df)·2000+1000)·1000 DIV (df·2000+1000)
    *                                              (≈1000·(N−df+0.5)/(df+0.5))
    *   tfpart_k = tf·2200·1000 DIV (tf·1000 + 1200·norm_m DIV 1000)
    *                                              (≈1000·tf·(k1+1)/(tf+k1·norm))
    *   score_micro = Σ_t idf_k·tfpart_k — exact BIGINT end to end,
    * the same floor-division on both engines, so the oracle replays
    * the ranking bit-for-bit (a float ln/÷ would be libm-dependent).
    *
    * Scale: the (doc, word) tf shuffle is q33's; df for the QUERY
    * terms is |Q| rows (broadcast); dl rides the same tf table; the
    * global top-k is orderBy+limit — TakeOrderedAndProject heaps per
    * partition, never a global sort — and the final rank is a window
    * over the ≤ k surviving rows only.
    */
  def bm25Rank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .cp() // feeds dl, corpus stats AND the score join
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = tf.agg(countDistinct(col("doc_id")).as("n_docs"),
      sum(col("tf")).as("t_tokens"))
    val qdf = tf.filter(col("w").isin(Bm25Query: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf.filter(col("w").isin(Bm25Query: _*))
      .join(broadcast(qdf), "w")
      .join(dl, "doc_id")
      .transform(withScalar(_, stats))
      .withColumn("norm_m",
        expr("250 + (750 * dl * n_docs) DIV t_tokens"))
      .withColumn("idf_k",
        expr("((n_docs - df) * 2000 + 1000) * 1000 DIV (df * 2000 + 1000)"))
      .withColumn("tfpart_k",
        expr("tf * 2200 * 1000 DIV (tf * 1000 + (1200 * norm_m) DIV 1000)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("idf_k") * col("tfpart_k")).as("score_micro"),
        count(lit(1)).as("n_terms"))
    // rank over the ≤ TopK survivors of the TakeOrdered heap — the
    // single-partition window is bounded by k, not the corpus
    scored.orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(Bm25TopK)
      .withColumn("rnk", row_number().over(Window.orderBy(
        col("score_micro").desc, col("doc_id").asc)))
      .select(col("rnk"), col("doc_id"), col("n_terms"), col("score_micro"))
  }

  private val PmiMinPairs = 5L // bigram support floor
  private val PmiTopK = 50

  /** q146: COLLOCATION MINING — the highest-lift adjacent word pairs
    * in the corpus ("new york"-style multiword expressions), the
    * vocabulary-building sibling of q82's BPE pair counting: where
    * BPE greedily merges the MOST FREQUENT pair, collocation mining
    * ranks pairs by association strength
    * lift = P(ab) / (P(a·)·P(·b)) so corpus-specific terms beat
    * stopword pairs. Scored in exact integer arithmetic —
    * `lift_milli = 1000·N·c(ab) DIV (c(a·)·c(·b))` with N total
    * bigrams — so the cross-engine hash gate admits it (log-space
    * PMI differs only by a monotone transform and would need libm);
    * a [[PmiMinPairs]] support floor keeps one-off pairs from
    * dominating the ratio.
    *
    * Scale shape: bigram extraction is row-local (no self-join — the
    * pair list is a `transform` over each token array); ONE
    * (w1, w2)-keyed shuffle with map-side partials builds the pair
    * table, and BOTH marginals and the grand total are aggregates OF
    * that aggregate (vocab²-bounded input, never a second corpus
    * scan). Marginal joins are vocab-sized. The global top-k is
    * orderBy+limit — TakeOrdered heaps per partition — and the rank
    * window sees only the k survivors. At 2⁶³-straining corpus sizes
    * the lift ratio switches to double log-space PMI; the plan shape
    * is unchanged.
    */
  def pmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bg = Tables.documents(spark, dir)
      .select(words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1), i =>
        struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cab = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .cp() // feeds marginals, N, AND the lift join
    val ca = cab.groupBy(col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val cb = cab.groupBy(col("w2")).agg(sum(col("c_ab")).as("c_b"))
    val n = cab.agg(sum(col("c_ab")).as("n_bigrams"))
    cab.filter(col("c_ab") >= PmiMinPairs)
      .join(ca, "w1").join(cb, "w2")
      .transform(withScalar(_, n))
      .withColumn("lift_milli",
        expr("1000 * n_bigrams * c_ab DIV (c_a * c_b)"))
      .orderBy(col("lift_milli").desc, col("w1").asc, col("w2").asc)
      .limit(PmiTopK)
      .withColumn("rnk", row_number().over(Window.orderBy(
        col("lift_milli").desc, col("w1").asc, col("w2").asc)))
      .select(col("rnk"), col("w1"), col("w2"), col("c_ab"), col("c_a"),
        col("c_b"), col("lift_milli"))
  }

  /** q147 percentile targets (permille). */
  private val QSkPs = Seq(500, 900, 990)

  /** HDR-histogram bucket index of a positive BIGINT `v` (SQL shared
    * verbatim by engine and oracle): values < 64 get exact unit
    * buckets; larger values keep their 6 top bits — exponent
    * e = bit length, mantissa m = v >> (e−6) ∈ [32,64) — as index
    * e·64+m (disjoint from the unit range, monotone in v). Bucket
    * width / lower bound ≤ 1/32, which is the sketch's HARD relative
    * error bound — deterministic, unlike a sampling sketch. ~64
    * buckets per octave, ≤ ~4K buckets over the full BIGINT range.
    */
  private def qskIdx(v: String): String =
    s"CASE WHEN $v < 64 THEN $v ELSE " +
      s"length(bin($v)) * 64 + shiftright($v, length(bin($v)) - 6) END"
  /** Inclusive upper bound of bucket `idx` (its quantile estimate). */
  private def qskUb(idx: String): String =
    s"CASE WHEN $idx < 64 THEN $idx ELSE " +
      s"shiftleft($idx % 64 + 1, $idx DIV 64 - 6) - 1 END"

  /** q147: MERGEABLE QUANTILE SKETCH, persisted + incrementally
    * merged — q138's sketch lifecycle applied to ORDER statistics:
    * per-source log-histograms (HDR bucketing, [[qskIdx]]) of the
    * BASE corpus document lengths are persisted to parquet, read
    * back, and merged with the increment's histogram
    * (doc_id % 10 == 7, q58's drop convention) by plain per-bucket
    * ADDITION — the mergeability that lets a nightly drop update
    * every percentile dashboard scanning only |increment|. p50/p90/
    * p99 estimates come from the merged cumulative counts; each is
    * bound-checked IN-PLAN against the exact rank-selected value,
    * whose agreement is DETERMINISTIC (bucket width ≤ 1/32 of its
    * lower bound — a hard guarantee, not an expectation; compare
    * q134's 6σ statistical margin).
    *
    * Scale shape: bucketing is row-local; the sketch build is ONE
    * (source, bucket) shuffle with map-side partials, output ≤ ~4K
    * rows per source (KB-sized state, metadata tier); merge is a
    * union + re-sum of sketch-sized frames; quantile selection is a
    * window over the ≤ 4K buckets of each source. The exact side
    * (per-source sort) exists only to check the contract at test
    * scale — at 100 TB it is precisely what the sketch replaces.
    */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        greatest(col("n_chars"), lit(1L)).as("v"))
    val isNew = col("doc_id") % 10 === 7
    def sketch(d: DataFrame): DataFrame = d
      .withColumn("idx", expr(qskIdx("v")))
      .groupBy(col("source"), col("idx")).agg(count(lit(1)).as("cnt"))
    val skDir = Scratch.dir("graft_qsketch")
    sketch(docs.filter(!isNew)).write.mode("overwrite").parquet(skDir)
    val merged = spark.read.parquet(skDir)
      .unionByName(sketch(docs.filter(isNew)))
      .groupBy(col("source"), col("idx")).agg(sum(col("cnt")).as("cnt"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = merged.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .withColumn("ub", expr(qskUb("idx")))
    val ps = QSkPs.map(p => s"($p)").mkString(", ")
    val pTab = spark.sql(s"SELECT * FROM VALUES $ps AS t(p_milli)")
    val est = cum.join(broadcast(pTab),
        col("cum") * 1000 >= col("p_milli") * col("n"))
      .groupBy(col("source"), col("p_milli"))
      .agg(min(col("ub")).as("est_ub"), min(col("n")).as("n"))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("v").asc, col("doc_id").asc)
    val exact = docs
      .withColumn("ns", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("rn", row_number().over(wRank))
      .join(broadcast(pTab), col("rn") === expr("(p_milli * ns + 999) DIV 1000"))
      .select(col("source"), col("p_milli"), col("v"))
    est.join(exact, Seq("source", "p_milli"))
      .select(col("source"), col("p_milli"), col("n"), col("est_ub"),
        col("v").as("exact_v"),
        (col("est_ub") >= col("v") &&
          (col("est_ub") - col("v")) * 32 <= col("v"))
          .cast("int").as("est_ok"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q166_rag_chunks" -> ragChunks,
    "q164_vocab_drift" -> vocabDrift,
    "q179_head_coverage" -> headCoverage,
    "q152_cms_heavy" -> cmsHeavy,
    "q147_quantile_sketch" -> quantileSketch,
    "q146_pmi_bigrams" -> pmiBigrams,
    "q142_bm25_rank" -> bm25Rank,
    "q132_correlation" -> correlation,
    "q123_winsorize" -> winsorize,
    "q124_bpe_encode" -> bpeEncode,
    "q187_tokenizer_fertility" -> tokenizerFertility,
    "q116_equifreq_bucketing" -> equifreqBucketing,
    "q94_lm_quality" -> lmQuality,
    "q90_approx_stats" -> approxStats,
    "q87_robust_outliers" -> robustOutliers,
    "q82_bpe_pairs" -> bpePairs,
    "q71_heavy_hitters" -> heavyHitters,
    "q73_group_median" -> groupMedian,
    "q21_lang_id" -> langId,
    "q22_text_quality" -> quality,
    "q23_token_count" -> tokens,
    "q24_fingerprint" -> fingerprint,
    "q33_tfidf" -> tfidf,
    "q56_quantiles" -> quantiles,
    "q57_pack_sequences" -> packSequences)

  private val langIdSql = {
    val structs = sigs.map { case (l, ss) =>
      val inList = ss.map(s => s"'$s'").mkString(", ")
      s"{'lang': '$l', 'sc': len(list_filter(ws, w -> list_contains([$inList], w)))}"
    }.mkString(",\n|  ")
    s"""WITH d AS (SELECT doc_id, lang, $sqlWords ws FROM documents),
       |s AS (SELECT doc_id, lang AS actual_lang, unnest([
       |  $structs], recursive := false) u FROM d),
       |r AS (SELECT doc_id, actual_lang, u.lang AS lang, u.sc AS sc,
       |        row_number() OVER (PARTITION BY doc_id ORDER BY u.sc DESC, u.lang ASC) rn
       |      FROM s)
       |SELECT doc_id, actual_lang, lang AS pred_lang, sc AS score FROM r WHERE rn = 1""".stripMargin
  }

  private[operators] val qualitySql = {
    val stopList = stops.map(s => s"'$s'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, $sqlWords ws FROM documents),
       |m AS (SELECT doc_id, len(ws) n_words, len(list_distinct(ws)) n_uniq,
       |        CAST(list_sum(list_transform(ws, w -> length(w))) AS INTEGER) total_wchars,
       |        len(list_filter(ws, w -> list_contains([$stopList], w))) n_stop
       |      FROM d)
       |SELECT doc_id, n_words, n_uniq, total_wchars, n_stop,
       |       CAST(total_wchars AS DOUBLE)/nullif(n_words, 0) AS avg_word_len,
       |       CAST(n_stop AS DOUBLE)/nullif(n_words, 0) AS stop_ratio,
       |       CASE WHEN n_words < 40 THEN 'short'
       |            WHEN n_stop * 5 >= n_words THEN 'stopword_heavy'
       |            WHEN n_uniq * 3 <= n_words THEN 'repetitive'
       |            ELSE 'ok' END AS quality_bucket
       |FROM m""".stripMargin
  }

  private val tokensSql =
    """SELECT doc_id,
      |  len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens,
      |  length(text) AS n_chars_m,
      |  CAST(length(text) AS DOUBLE) / nullif(len(list_filter(string_split(text, ' '), w -> w <> '')), 0) AS chars_per_token
      |FROM documents""".stripMargin

  private val fingerprintSql =
    s"""WITH h AS (SELECT doc_id, list_transform(range(1, length(text)-6),
       |             i -> ${sqlHash60("substr(text, i, 8)")}) hs
       |           FROM documents WHERE length(text) >= 11),
       |f AS (SELECT doc_id, list_distinct(list_transform(range(1, len(hs)-2),
       |        j -> least(hs[j], hs[j+1], hs[j+2], hs[j+3]))) fps FROM h)
       |SELECT doc_id, len(fps) AS n_fps, list_min(fps) AS fp_min,
       |       list_max(fps) AS fp_max FROM f""".stripMargin

  private val tfidfSql =
    """WITH w AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) w
      |           FROM documents),
      |tf AS (SELECT doc_id, w, count(*) tf FROM w GROUP BY doc_id, w),
      |n AS (SELECT count(*) n FROM documents),
      |df AS (SELECT w, count(*) df, ((SELECT n FROM n) * 1000) // count(*) idf_milli
      |       FROM tf GROUP BY w),
      |s AS (SELECT tf.doc_id, tf.w, tf.tf, df.df,
      |        tf.tf * df.idf_milli score_milli,
      |        row_number() OVER (PARTITION BY tf.doc_id
      |          ORDER BY tf.tf * df.idf_milli DESC, tf.w ASC) rnk
      |      FROM tf JOIN df USING (w))
      |SELECT doc_id, rnk, w, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      |       CAST(score_milli AS BIGINT) AS score_milli
      |FROM s WHERE rnk <= 3""".stripMargin

  private val quantilesSql =
    """WITH r AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) rn
      |           FROM documents),
      |n AS (SELECT count(*) n FROM documents),
      |t AS (SELECT unnest([250, 500, 750, 900, 990]) p_milli),
      |tr AS (SELECT p_milli, (p_milli * n.n + 999) // 1000 trank FROM t, n)
      |SELECT p_milli, trank, n_chars FROM tr JOIN r ON r.rn = tr.trank""".stripMargin

  private val packSql =
    s"""WITH d AS (SELECT doc_id, lang, doc_id // $ShardDocs AS shard,
       |             len(list_filter(string_split(text, ' '), w -> w <> '')) n_tokens
       |           FROM documents),
       |c AS (SELECT doc_id, lang, shard, n_tokens,
       |        CAST(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
       |      FROM d)
       |SELECT doc_id, lang, shard, n_tokens, cum - n_tokens AS start_off,
       |       (cum - n_tokens) // $SeqLen AS seq_id
       |FROM c""".stripMargin

  private val heavyHittersSql =
    """WITH w AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) w
      |           FROM documents),
      |tf AS (SELECT doc_id, w, count(*) tf FROM w GROUP BY doc_id, w)
      |SELECT w, CAST(sum(tf) AS BIGINT) AS n_occur, count(*) AS n_docs
      |FROM tf GROUP BY w ORDER BY n_occur DESC, w LIMIT 30""".stripMargin

  private val groupMedianSql =
    s"""WITH d AS (SELECT lang, len($sqlWords) v FROM documents)
       |SELECT lang, count(*) AS n_docs, median(v) AS median_tokens
       |FROM d GROUP BY lang""".stripMargin

  private val bpePairsSql =
    s"""WITH w AS (SELECT unnest($sqlWords) w FROM documents),
       |wf AS (SELECT w, count(*) f FROM w GROUP BY w),
       |sym AS (SELECT w, f,
       |          list_append(list_transform(range(1, length(w)+1),
       |            i -> substr(w, i, 1)), '</w>') s
       |        FROM wf),
       |p AS (SELECT f, unnest(list_transform(range(1, len(s)),
       |        i -> s[i] || ' ' || s[i+1])) pair FROM sym)
       |SELECT pair, CAST(sum(f) AS BIGINT) AS n
       |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin

  private val robustOutliersSql =
    s"""WITH d AS (SELECT lang, len($sqlWords) v FROM documents),
       |m AS (SELECT lang, median(v) med, mad(v) mad FROM d GROUP BY lang)
       |SELECT d.lang, count(*) AS n_docs,
       |       m.med AS median_tokens, m.mad AS mad_tokens,
       |       CAST(sum(CASE WHEN abs(v - med) > 2*mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM d JOIN m ON d.lang = m.lang
       |GROUP BY d.lang, m.med, m.mad""".stripMargin

  /** Exact values only; within_bound is literally TRUE — the row
    * hash-matches iff Spark's sketch landed inside its contract.
    */
  private val approxStatsSql =
    """WITH r AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) rn
      |           FROM documents),
      |n AS (SELECT count(*) n FROM documents),
      |t AS (SELECT unnest([500, 900]) pm),
      |q AS (SELECT pm, (SELECT n_chars FROM r, n WHERE rn = (pm * n.n + 999) // 1000) v
      |      FROM t)
      |SELECT 'distinct_users' AS metric,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_value,
      |       true AS within_bound FROM events
      |UNION ALL
      |SELECT 'distinct_events', CAST(count(DISTINCT event_id) AS BIGINT), true
      |FROM events
      |UNION ALL
      |SELECT 'p500_chars', CAST(v AS BIGINT), true FROM q WHERE pm = 500
      |UNION ALL
      |SELECT 'p900_chars', CAST(v AS BIGINT), true FROM q WHERE pm = 900""".stripMargin

  private[operators] val lmQualitySql =
    s"""WITH w AS (SELECT doc_id, $sqlWords ws FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) w FROM w),
       |tf AS (SELECT doc_id, w, count(*) tf FROM tok GROUP BY 1, 2),
       |c AS (SELECT w, CAST(sum(tf) AS BIGINT) cnt FROM tf GROUP BY 1),
       |n AS (SELECT CAST(sum(tf) AS BIGINT) n_total FROM tf),
       |b AS (SELECT w, length(printf('%b', n_total // cnt)) - 1 AS bits
       |      FROM c, n)
       |SELECT tf.doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |       CAST(sum(tf * bits) AS BIGINT) AS sum_bits,
       |       CAST(sum(tf * bits) * 1000 // sum(tf) AS BIGINT) AS surprisal_milli
       |FROM tf JOIN b USING (w) GROUP BY 1""".stripMargin

  private val winsorizeSql =
    s"""WITH d AS (SELECT lang, len($sqlWords) AS v FROM documents),
       |h AS (SELECT lang, v, count(*) AS cnt FROM d GROUP BY lang, v),
       |c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v
       |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h),
       |t AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY lang),
       |r AS (SELECT lang, ($WinsLoMilli * n + 999) // 1000 AS lo_rank,
       |        ($WinsHiMilli * n + 999) // 1000 AS hi_rank FROM t),
       |th AS (SELECT c.lang, min(CASE WHEN cum >= lo_rank THEN v END) AS t_lo,
       |         min(CASE WHEN cum >= hi_rank THEN v END) AS t_hi
       |       FROM c JOIN r ON c.lang = r.lang GROUP BY c.lang),
       |j AS (SELECT d.lang, v, t_lo, t_hi,
       |        least(greatest(v, t_lo), t_hi) AS w
       |      FROM d JOIN th ON d.lang = th.lang)
       |SELECT lang, t_lo, t_hi, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN v < t_lo OR v > t_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       |  CAST(sum(v) AS DOUBLE)/count(*) AS mean_raw,
       |  CAST(sum(w) AS DOUBLE)/count(*) AS mean_winsorized
       |FROM j GROUP BY lang, t_lo, t_hi""".stripMargin

  /** DuckDB twin of [[bpeTokens]] summed over a word list `ws` — the
    * ONE site for the oracle-side merge-table fold, shared by q124 and
    * q187 so the two can never disagree on the tokenizer.
    */
  private[operators] val sqlBpeTokensOfWs: String =
    sqlBpeTokensOfWsUpTo(bpeMerges.length)

  /** Prefix twin of [[sqlBpeTokensOfWs]] for q221's ablation sweep. */
  private[operators] def sqlBpeTokensOfWsUpTo(p: Int): String = {
    val init = "'[' || array_to_string(list_transform(range(1, len(w)+1), " +
      "i -> substr(w, CAST(i AS INTEGER), 1)), '][') || '][</w>]'"
    val enc = bpeMerges.take(p).foldLeft(init) { case (s, (a, b)) =>
      s"replace($s, '[$a][$b]', '[$a$b]')"
    }
    s"coalesce(CAST(list_sum(list_transform(list_transform(ws, w -> $enc)," +
      " s -> len(s) - len(replace(s, '[', '')))) AS BIGINT), 0)"
  }

  private val bpeEncodeSql =
    s"""WITH d AS (SELECT doc_id, $sqlWords ws FROM documents),
       |t AS (SELECT doc_id, len(ws) AS n_words,
       |  coalesce(CAST(list_sum(list_transform(ws, w -> len(w) + 1)) AS BIGINT), 0) AS n_char_tokens,
       |  $sqlBpeTokensOfWs AS n_bpe_tokens
       |FROM d)
       |SELECT doc_id, n_words, n_char_tokens, n_bpe_tokens,
       |  CAST(n_char_tokens AS DOUBLE)/nullif(n_bpe_tokens, 0) AS compression
       |FROM t""".stripMargin

  private val equifreqSql =
    s"""WITH d AS (SELECT doc_id, CAST(len($sqlWords) AS INTEGER) v
       |           FROM documents),
       |h AS (SELECT v, count(*) cnt FROM d GROUP BY v),
       |c AS (SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) cum
       |      FROM h),
       |n AS (SELECT count(*) n FROM d),
       |t AS (SELECT i, min(CASE WHEN cum >= (i*n + ${NBuckets - 1}) // $NBuckets
       |                         THEN v END) t
       |      FROM c, n, (SELECT unnest(range(1, $NBuckets)) i) GROUP BY i)
       |SELECT d.doc_id, d.v,
       |       CAST((SELECT count(*) FROM t WHERE t.t <= d.v) AS INTEGER) AS bucket
       |FROM d""".stripMargin

  private val correlationSql =
    s"""WITH d AS (SELECT lang, n_chars AS x,
       |        CAST(len($sqlWords) AS BIGINT) AS y FROM documents),
       |g AS (SELECT lang, CAST(count(*) AS BIGINT) n,
       |        CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
       |        CAST(sum(x*x) AS BIGINT) sxx, CAST(sum(y*y) AS BIGINT) syy,
       |        CAST(sum(x*y) AS BIGINT) sxy
       |      FROM d GROUP BY lang)
       |SELECT lang, n,
       |  CAST(n*sxy - sx*sy AS DOUBLE) /
       |    sqrt(nullif(CAST(n*sxx - sx*sx AS DOUBLE) *
       |                CAST(n*syy - sy*sy AS DOUBLE), 0.0)) AS corr,
       |  CAST(n*sxy - sx*sy AS DOUBLE) /
       |    nullif(CAST(n*sxx - sx*sx AS DOUBLE), 0.0) AS beta
       |FROM g""".stripMargin

  // the integer-scaled BM25 replayed term by term; `//` is the same
  // floor division Spark's DIV performs on these (all-positive) values
  private val bm25Sql = {
    val inList = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH w AS (SELECT doc_id, unnest($sqlWords) w FROM documents),
       |tf AS (SELECT doc_id, w, count(*) tf FROM w GROUP BY doc_id, w),
       |dl AS (SELECT doc_id, sum(tf) dl FROM tf GROUP BY doc_id),
       |st AS (SELECT count(DISTINCT doc_id) n_docs, sum(tf) t_tokens FROM tf),
       |qdf AS (SELECT w, count(*) df FROM tf WHERE w IN ($inList) GROUP BY w),
       |sc AS (SELECT tf.doc_id,
       |         ((st.n_docs - qdf.df) * 2000 + 1000) * 1000
       |           // (qdf.df * 2000 + 1000) AS idf_k,
       |         tf.tf * 2200 * 1000 // (tf.tf * 1000 +
       |           (1200 * (250 + (750 * dl.dl * st.n_docs) // st.t_tokens))
       |             // 1000) AS tfpart_k
       |       FROM tf JOIN qdf ON tf.w = qdf.w
       |                JOIN dl ON dl.doc_id = tf.doc_id, st),
       |agg AS (SELECT doc_id, CAST(sum(idf_k * tfpart_k) AS BIGINT) AS score_micro,
       |          count(*) AS n_terms FROM sc GROUP BY doc_id),
       |top AS (SELECT * FROM agg
       |        ORDER BY score_micro DESC, doc_id ASC LIMIT $Bm25TopK)
       |SELECT row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rnk,
       |  doc_id, n_terms, score_micro
       |FROM top""".stripMargin
  }

  private val pmiSql =
    s"""WITH w AS (SELECT $sqlWords ws FROM documents),
       |wf AS (SELECT ws FROM w WHERE len(ws) >= 2),
       |bg AS (SELECT unnest(list_transform(range(1, len(ws)),
       |         i -> {'w1': ws[i], 'w2': ws[i+1]})) p FROM wf),
       |cab AS (SELECT p.w1 w1, p.w2 w2, count(*) c_ab FROM bg GROUP BY 1, 2),
       |ca AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) c_a FROM cab GROUP BY 1),
       |cb AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) c_b FROM cab GROUP BY 1),
       |n AS (SELECT CAST(sum(c_ab) AS BIGINT) n_bigrams FROM cab),
       |s AS (SELECT w1, w2, c_ab, c_a, c_b,
       |        1000 * n_bigrams * c_ab // (c_a * c_b) lift_milli
       |      FROM cab JOIN ca USING (w1) JOIN cb USING (w2), n
       |      WHERE c_ab >= $PmiMinPairs),
       |top AS (SELECT * FROM s
       |        ORDER BY lift_milli DESC, w1 ASC, w2 ASC LIMIT $PmiTopK)
       |SELECT row_number() OVER (ORDER BY lift_milli DESC, w1 ASC, w2 ASC)
       |    AS rnk,
       |  w1, w2, c_ab, c_a, c_b, lift_milli
       |FROM top""".stripMargin

  // the merged (base + increment) histogram is count-identical to the
  // full-corpus histogram — per-bucket addition is exactly what the
  // oracle replays in one pass; the ENGINE's persistence round trip is
  // the part only the hash equality can witness
  private val quantileSketchSql =
    s"""WITH d AS (SELECT doc_id, source, greatest(n_chars, 1) v
       |           FROM documents),
       |b AS (SELECT source, idx, count(*) cnt FROM (
       |        SELECT source, CASE WHEN v < 64 THEN v
       |          ELSE length(bin(v)) * 64 + (v >> (length(bin(v)) - 6))
       |          END idx FROM d)
       |      GROUP BY 1, 2),
       |c AS (SELECT source, idx, cnt,
       |        CAST(sum(cnt) OVER (PARTITION BY source ORDER BY idx)
       |          AS BIGINT) cum,
       |        CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) n,
       |        CASE WHEN idx < 64 THEN idx
       |          ELSE ((idx % 64 + 1) << (idx // 64 - 6)) - 1 END ub
       |      FROM b),
       |p AS (SELECT unnest([${QSkPs.mkString(", ")}]) p_milli),
       |est AS (SELECT source, p_milli, min(ub) est_ub, min(n) n
       |        FROM c JOIN p ON cum * 1000 >= p_milli * n GROUP BY 1, 2),
       |r AS (SELECT source, v, doc_id,
       |        row_number() OVER (PARTITION BY source ORDER BY v, doc_id) rn,
       |        count(*) OVER (PARTITION BY source) ns FROM d),
       |ex AS (SELECT source, p_milli, v FROM r
       |       JOIN p ON rn = (p_milli * ns + 999) // 1000)
       |SELECT source, p_milli, n, est_ub, v AS exact_v,
       |  CAST(est_ub >= v AND (est_ub - v) * 32 <= v AS INTEGER) AS est_ok
       |FROM est JOIN ex USING (source, p_milli)""".stripMargin

  // full sketch replication (q151 discipline): the oracle rebuilds the
  // same D×W counter matrix from the same salted hashes; ge_ok is the
  // CMS no-underestimate theorem, pinned as literal truth
  private val cmsHeavySql = {
    val rows = (0 until CmsD).mkString("[", ", ", "]")
    def b(expr: String) =
      s"${sqlHash60(s"'cms' || CAST(r AS VARCHAR) || ':' || $expr")} % $CmsW"
    s"""WITH t AS (SELECT unnest($sqlWords) w FROM documents),
       |x AS (SELECT w, unnest($rows) r FROM t),
       |cell AS (SELECT r, ${b("w")} b, CAST(count(*) AS BIGINT) cnt
       |         FROM x GROUP BY 1, 2),
       |top AS (SELECT w, CAST(count(*) AS BIGINT) exact_n FROM t
       |        GROUP BY w ORDER BY exact_n DESC, w ASC LIMIT $CmsTopN),
       |pb AS (SELECT w, exact_n, r, ${b("w")} b
       |       FROM (SELECT w, exact_n, unnest($rows) r FROM top)),
       |e AS (SELECT p.w, p.exact_n, min(c.cnt) est_n
       |      FROM pb p JOIN cell c ON p.r = c.r AND p.b = c.b
       |      GROUP BY 1, 2)
       |SELECT w, exact_n, CAST(est_n AS BIGINT) AS est_n,
       |  CAST(est_n >= exact_n AS INTEGER) AS ge_ok
       |FROM e""".stripMargin
  }

  // q179: same term counts, rank by (n DESC, w ASC), the same three
  // conditional sums — a window rank is fine oracle-side (DuckDB is
  // single-node; the engine's two-phase ranker exists for scale)
  private val headCoverageSql = {
    val ks = HeadKs.map(k => s"($k)").mkString(", ")
    s"""WITH t AS (SELECT unnest($sqlWords) w FROM documents),
       |c AS (SELECT w, count(*) n FROM t GROUP BY w),
       |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, w ASC) rnk
       |      FROM c),
       |s AS (SELECT CAST(sum(n) AS BIGINT) n_total,
       |        CAST(count(*) AS BIGINT) n_vocab FROM c),
       |k (top_k) AS (VALUES $ks),
       |cov AS (SELECT CAST(top_k AS BIGINT) top_k,
       |          CAST(sum(CASE WHEN rnk <= top_k THEN n ELSE 0 END)
       |            AS BIGINT) covered_tokens
       |        FROM r CROSS JOIN k GROUP BY top_k)
       |SELECT top_k, n_vocab, n_total, covered_tokens,
       |  1000 * covered_tokens // n_total AS coverage_milli
       |FROM cov, s""".stripMargin
  }

  private val vocabDriftSql =
    s"""WITH t AS (SELECT doc_id % 2 = 0 AS in_a, unnest($sqlWords) w
       |           FROM documents),
       |c AS (SELECT w,
       |        CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) na,
       |        CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) nb
       |      FROM t GROUP BY w),
       |tt AS (SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) ta,
       |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) tb
       |       FROM t),
       |r AS (SELECT w, na, nb,
       |        CAST((1000000 * na) // ta AS BIGINT) ra_ppm,
       |        CAST((1000000 * nb) // tb AS BIGINT) rb_ppm
       |      FROM c, tt ORDER BY na + nb DESC, w ASC LIMIT $DriftTopK)
       |SELECT w, na, nb, ra_ppm, rb_ppm,
       |  abs(ra_ppm - rb_ppm) AS delta_ppm,
       |  CAST(abs(ra_ppm - rb_ppm) >= $DriftPpm AS INTEGER) AS shifted
       |FROM r""".stripMargin

  private val ragChunksSql =
    s"""WITH d AS (SELECT doc_id, ws FROM
       |      (SELECT doc_id, $sqlWords ws FROM documents)
       |      WHERE len(ws) > 0),
       |c AS (SELECT doc_id, ws, unnest(range(0,
       |        greatest((len(ws) - ${1 + RagW - RagStride}) // $RagStride,
       |          0) + 1)) ci
       |      FROM d)
       |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       |  CAST(ci * $RagStride AS BIGINT) AS start_tok,
       |  CAST(len(list_slice(ws, ci * $RagStride + 1,
       |    ci * $RagStride + $RagW)) AS BIGINT) AS n_tokens,
       |  ${sqlHash60(s"array_to_string(list_slice(ws, ci * $RagStride + 1, ci * $RagStride + $RagW), ' ')")}
       |    AS chunk_hash
       |FROM c""".stripMargin

  val oracle: Map[String, String] = Map(
    "q166_rag_chunks" -> ragChunksSql,
    "q164_vocab_drift" -> vocabDriftSql,
    "q179_head_coverage" -> headCoverageSql,
    "q152_cms_heavy" -> cmsHeavySql,
    "q147_quantile_sketch" -> quantileSketchSql,
    "q146_pmi_bigrams" -> pmiSql,
    "q142_bm25_rank" -> bm25Sql,
    "q132_correlation" -> correlationSql,
    "q123_winsorize" -> winsorizeSql,
    "q124_bpe_encode" -> bpeEncodeSql,
    "q187_tokenizer_fertility" ->
      s"""WITH d AS (SELECT lang, $sqlWords ws FROM documents),
         |t AS (SELECT lang, CAST(len(ws) AS BIGINT) AS nw,
         |        $sqlBpeTokensOfWs AS nb FROM d)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
         |  (1000 * CAST(sum(nb) AS BIGINT))
         |    // nullif(CAST(sum(nw) AS BIGINT), 0) AS fertility_milli
         |FROM t GROUP BY lang""".stripMargin,
    "q116_equifreq_bucketing" -> equifreqSql,
    "q94_lm_quality" -> lmQualitySql,
    "q90_approx_stats" -> approxStatsSql,
    "q87_robust_outliers" -> robustOutliersSql,
    "q82_bpe_pairs" -> bpePairsSql,
    "q71_heavy_hitters" -> heavyHittersSql,
    "q73_group_median" -> groupMedianSql,
    "q21_lang_id" -> langIdSql,
    "q22_text_quality" -> qualitySql,
    "q23_token_count" -> tokensSql,
    "q24_fingerprint" -> fingerprintSql,
    "q33_tfidf" -> tfidfSql,
    "q56_quantiles" -> quantilesSql,
    "q57_pack_sequences" -> packSql)
}

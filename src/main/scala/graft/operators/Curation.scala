package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashOps
import graft.functions.Portable._
import graft.sources.Tables

/** Corpus-curation operators — the filtering/sampling half of a
  * training-data pipeline (the reference converts data; a pipeline that
  * FEEDS a model also has to scrub, screen, and sample it):
  *
  *  - q49 sensitive-term redaction (the deny-list core of PII scrubbing;
  *    on a real corpus the same row-local shape swaps the term list for
  *    regex classes — emails, phone runs — via `regexp_replace`);
  *  - q50 Gopher-style repetition metrics (duplicate word/n-gram
  *    fractions, top-run fractions) for quality filtering;
  *  - q51 benchmark-contamination screening (shared-shingle overlap of
  *    every corpus doc against a probe set);
  *  - q52 deterministic stratified sampling (hash-bucket thresholds per
  *    stratum — reproducible across runs/engines, unlike `rand()`).
  *
  * All metric math follows the repo's oracle discipline: exact integer
  * counts, one final double division, md5-prefix hashes.
  */
object Curation extends graft.Module {

  /** Deny-listed terms. Stand-ins for the PII/secret classes a real
    * scrubber matches by regex; list chosen to be non-vacuous on the
    * synthetic corpus (459/500 docs hit at sf0.01).
    */
  private[operators] val deny = Seq("key", "hash", "secret", "token", "password")

  /** q49: sensitive-term redaction — row-local rewrite of the token
    * stream with a redaction count per doc. Zero shuffles; the whole
    * query is one WholeStageCodegen span over the scan, so it runs at
    * I/O speed on any corpus size.
    */
  def redact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        size(filter(col("ws"), w => w.isInCollection(deny)))
          .as("n_redactions"),
        array_join(transform(col("ws"),
          w => when(w.isInCollection(deny), lit("[REDACTED]")).otherwise(w)),
          " ").as("redacted_text"))

  /** Longest run of equal elements in `arr` (arr must be non-empty):
    * sort, mark run-end positions, prepend 0, max adjacent difference.
    * O(n log n) row-local — scales to long documents, unlike the
    * O(n·distinct) count-each-distinct formulation. Only run LENGTHS are
    * used, so engine/oracle collation differences in sort order can't
    * leak into the result (equal elements group adjacently in any
    * total order).
    */
  private def maxRun(arr: Column): Column = {
    val s = sort_array(arr)
    val n = size(s)
    // least() keeps the lookahead in bounds at i = n without relying on
    // short-circuit evaluation order (ANSI mode would throw on s[n+1])
    val ends = filter(sequence(lit(1), n), i =>
      (i === n) || (element_at(s, i) =!= element_at(s, least(i + 1, n))))
    val b = concat(array(lit(0)), ends)
    array_max(transform(sequence(lit(1), size(ends)), j =>
      element_at(b, j + 1) - element_at(b, j)))
  }

  /** q50: repetition metrics per document (the Gopher repetition-filter
    * family): duplicate-occurrence fractions for words / 2-grams /
    * 3-grams, top-run fractions for words / 2-grams, and a quality
    * bucket. Entirely row-local higher-order functions — no shuffle, no
    * explode; the corpus streams through one codegen stage.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3) // 3-grams need >= 3 words
      .withColumn("g2", transform(sequence(lit(1), size(col("ws")) - 1), i =>
        concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1))))
      .withColumn("g3", wordShingles(col("ws")))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        maxRun(col("ws")).as("top_word_run"),
        (maxRun(col("ws")).cast("double") / size(col("ws")))
          .as("top_word_frac"),
        (maxRun(col("g2")).cast("double") / size(col("g2")))
          .as("top_2gram_frac"),
        ((size(col("ws")) - size(array_distinct(col("ws")))).cast("double")
          / size(col("ws"))).as("dup_word_frac"),
        ((size(col("g2")) - size(array_distinct(col("g2")))).cast("double")
          / size(col("g2"))).as("dup_2gram_frac"),
        ((size(col("g3")) - size(array_distinct(col("g3")))).cast("double")
          / size(col("g3"))).as("dup_3gram_frac"))
      .withColumn("rep_bucket",
        when(col("top_word_frac") >= 0.2, "top_heavy")
          .when(col("dup_2gram_frac") >= 0.1, "dup_ngram")
          .otherwise("ok"))

  /** q51: benchmark-contamination screening — for every corpus document,
    * the distinct word-3-gram overlap against a probe set (the
    * "benchmark" docs; here a deterministic corpus slice, `doc_id % 50 =
    * 0`, standing in for an external eval table). A probe matching
    * itself IS the signal: the benchmark doc leaked into the corpus.
    *
    * Scale shape: the probe set is benchmark-sized (thousands of docs,
    * not billions) → its exploded shingles BROADCAST; the corpus side
    * streams through one hash pass and the pair counts aggregate with
    * map-side partials on (doc, probe) — one shuffle whose rows are
    * only the docs sharing at least one shingle with some probe. The
    * probe branch re-scans the table with the probe filter pushed to
    * the scan instead of checkpointing the full corpus gram pass.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        array_distinct(HashOps.shingle_hash60(col("ws"), 3)).as("g"))
    val corpus = grams(Tables.documents(spark, dir)
        // one-file testdata → spread the md5-heavy row-local pass
        .repartition(spark.sparkContext.defaultParallelism))
      .select(col("doc_id"), explode(col("g")).as("h"))
    val probes = grams(Tables.documents(spark, dir)
        .filter(col("doc_id") % 50 === 0))
      .select(col("doc_id").as("probe_id"), size(col("g")).as("n_probe"),
        explode(col("g")).as("h"))
    corpus.join(broadcast(probes), "h")
      .groupBy(col("doc_id").as("corpus_doc"), col("probe_id"),
        col("n_probe"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("overlap",
        col("n_shared").cast("double") / col("n_probe"))
      .filter(col("overlap") >= 0.5)
      .select(col("corpus_doc"), col("probe_id"), col("n_shared"),
        col("overlap"))
  }

  /** Per-language sampling rates (milli). A real pipeline derives these
    * from corpus statistics; the mechanism under test is the
    * deterministic hash-bucket keep decision.
    */
  private val rates = Seq(
    ("en", 600L), ("de", 400L), ("es", 300L), ("fr", 300L), ("zh", 200L))

  /** q52: deterministic stratified sampling — keep a document iff its
    * salted 60-bit hash bucket falls under the stratum's rate. No
    * `rand()`: the sample is reproducible run-to-run, engine-to-engine,
    * and APPEND-STABLE (new data never changes old keep decisions — the
    * property that matters when resampling a growing 100 TB corpus).
    * The rates dimension broadcasts; the corpus side never shuffles.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val r = rates.toDF("lang", "rate_milli")
    Tables.documents(spark, dir)
      .join(broadcast(r), "lang")
      .withColumn("bucket",
        HashOps.md5_prefix60(concat(lit("sample:"),
          col("doc_id").cast("string"))) % 1000)
      .filter(col("bucket") < col("rate_milli"))
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
  }

  /** q121 split fractions in permille: 800 train / 100 val / 100 test.
    * `private[graft]`: q140's nightly-drop composition applies the SAME
    * thresholds, so they must not be able to drift apart.
    */
  private[graft] val SplitTrainMilli = 800L
  private[graft] val SplitValMilli = 900L

  /** The ONE split-bucket function — q121's salted content hash. Every
    * split consumer (q96 pair-leakage audit, q140's nightly
    * composition, q178 n-gram decontamination) derives its buckets
    * HERE, so every audit measures the split the pipeline actually
    * ships, and retuning the salt or the hash cannot silently decouple
    * an audit from the assignment it audits. SQL twin below.
    */
  private[graft] def splitBucket(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    HashOps.md5_prefix60(concat(lit("split:"), text)) % 1000
  private[graft] val splitBucketSql: String =
    s"${sqlHash60("'split:' || text")} % 1000"

  /** q121: DETERMINISTIC TRAIN/VAL/TEST SPLIT ASSIGNMENT — every doc
    * gets a split from a salted 60-bit hash of its TEXT (not its id):
    * content-keyed, so byte-identical duplicates land in the same
    * split by construction — the assignment-side complement of the q96
    * split-leakage audit (which checks a split AFTER the fact; this
    * operator is how to produce one that passes its exact-dup gate).
    * Hash-threshold assignment is append-stable: new corpus drops
    * never reshuffle old docs between splits, the property a growing
    * 100 TB corpus needs so eval sets stay frozen.
    *
    * Row-local, zero shuffles; the per-split tallies a release report
    * wants are one groupBy away (left to the consumer, kept per-doc
    * here so the gate hashes the full assignment).
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", splitBucket(col("text")))
      .select(col("doc_id"), col("lang"), col("bucket"),
        when(col("bucket") < SplitTrainMilli, "train")
          .when(col("bucket") < SplitValMilli, "val")
          .otherwise("test").as("split"))

  /** q122 sample size per language stratum. */
  private val WSampleK = 20
  private val WSalts = 16

  /** q122: DETERMINISTIC WEIGHTED SAMPLING — k docs per language with
    * selection probability increasing in document weight (n_chars):
    * each doc draws a 30-bit uniform from a salted hash and its
    * priority is `u30 · 2^30 DIV w` (a weight-scaled uniform, EXACT
    * integer arithmetic — u30·2^30 < 2^60 never overflows, and both
    * engines integer-divide the same operands); the k smallest
    * priorities per stratum win. Weight-monotone and reproducible
    * run-to-run/engine-to-engine — `rand()`-based weighted sampling is
    * neither. (A production kernel wanting exact A-ES semantics swaps
    * the priority for u^(1/w); that needs float pow, which the
    * cross-engine hash gate can't admit — the shape is identical.)
    *
    * Selection is the q10 two-phase top-k: salted local heads bound
    * every task's state, then a final window over ≤ k·salts·strata
    * survivors — no language-partition ever funnels the corpus
    * through one task.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        greatest(col("n_chars"), lit(1L)).as("w"),
        (HashOps.md5_prefix60(concat(lit("wsample:"),
          col("doc_id").cast("string"))) % (1L << 30)).as("u30"))
      .withColumn("priority", expr("u30 * 1073741824 DIV w"))
    val wLocal = Window.partitionBy(col("lang"), col("salt"))
      .orderBy(col("priority").asc, col("doc_id").asc)
    val local = d
      .withColumn("salt", pmod(col("doc_id"), lit(WSalts)))
      .withColumn("lrn", row_number().over(wLocal))
      .filter(col("lrn") <= WSampleK)
    val wFinal = Window.partitionBy(col("lang"))
      .orderBy(col("priority").asc, col("doc_id").asc)
    local.withColumn("rn", row_number().over(wFinal))
      .filter(col("rn") <= WSampleK)
      .select(col("lang"), col("rn"), col("doc_id"), col("w"),
        col("priority"))
  }

  /** q139: RELEASE MANIFEST — the data-card table a dataset release
    * ships: per (split, lang), document count, whitespace-token count,
    * char count, and each split's share of its language (exact
    * integers, one final double division). Composes q121's
    * content-hash split assignment with the corpus stats the release
    * reports — the split-side sibling of q100's curation composition,
    * proving the assignment is usable downstream in the SAME plan
    * (no intermediate materialization).
    *
    * Scale: the split/token derivation is row-local on top of the
    * scan; ONE (split, lang) shuffle with map-side partials produces
    * the manifest, and the per-language totals ride a broadcast of
    * the languages-sized aggregate.
    */
  def releaseManifest(spark: SparkSession, dir: String): DataFrame = {
    val d = splitAssign(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("n_chars")), "doc_id")
      .select(col("split"), col("lang"),
        size(words(col("text"))).cast("long").as("toks"), col("n_chars"))
    val m = d.groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
    val langTot = m.groupBy(col("lang")).agg(sum(col("n_docs")).as("lang_docs"))
    m.join(broadcast(langTot), "lang")
      .select(col("split"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        (col("n_docs").cast("double") / col("lang_docs").cast("double"))
          .as("lang_share"))
  }

  /** Per-source document budget and the shard fan-out of its top-N. */
  private val SourceCap = 12
  private val CapShards = 4

  /** q63: per-source quota cap (domain budgeting) — keep at most
    * [[SourceCap]] documents per source, chosen by salted-hash order:
    * the standard pretraining counter to domain domination (one crawl
    * host flooding the mix), deterministic and engine-portable like
    * q52's sampler. EXACT top-N per source without ever materialising
    * a source as one window partition: phase 1 ranks inside
    * (source, hash-shard) and keeps ≤ cap per shard (partition size ≤
    * source/[[CapShards]], and any global top-cap doc is necessarily
    * in its own shard's top-cap); phase 2 ranks the ≤ shards·cap
    * survivors per source — bounded at [[CapShards]]·[[SourceCap]]
    * rows however hot the domain. That bound is the 100 TB point: a
    * 10^9-doc domain still caps through bounded shards (the q10
    * salted top-k discipline applied to curation).
    */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        HashOps.md5_prefix60(concat(lit("cap:"),
          col("doc_id").cast("string"))).as("h"))
      .withColumn("shard", col("h") % CapShards)
    val w1 = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    val survivors = docs.withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= SourceCap)
    val w2 = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    survivors.withColumn("rank_in_source", row_number().over(w2))
      .filter(col("rank_in_source") <= SourceCap)
      .select(col("doc_id"), col("source"), col("rank_in_source"))
  }

  private val Epochs = 2 // epochs exported (0 and 1)
  private val Shards = 8 // shards per epoch

  /** q170: EPOCH-KEYED SHUFFLE SHARDING — the "global shuffle per
    * training epoch" a data loader needs: for each epoch, every doc
    * gets a fresh salted-hash key (`hash60("epoch:e:doc")`), lands in
    * shard `key mod [[Shards]]`, and takes its position within the
    * shard from the key order. Different epochs therefore see
    * DECORRELATED permutations (new salt ⇒ independent keys) while
    * any single epoch is fully reproducible across runs, engines, and
    * worker counts — what `rand()`-shuffling cannot give (q52's
    * argument, applied to epoch ordering). A loader reads shard files
    * in position order and never materializes a global permutation.
    *
    * Scale: key/shard assignment is row-local; position is a
    * per-(epoch, shard) window over corpus/[[Shards]] rows — the ONE
    * sort this operator exists to bound (a global orderBy would sort
    * the corpus once per epoch through a single range partition; this
    * sorts each shard independently). Hash uniformity keeps shard
    * sizes within sampling noise of corpus/shards at any scale.
    */
  def epochShards(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(Epochs - 1))).as("epoch"))
      .withColumn("k", HashOps.md5_prefix60(concat_ws(":", lit("epoch"),
        col("epoch"), col("doc_id"))))
      .withColumn("shard", col("k") % Shards)
    keyed.withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("k"), col("doc_id"))).cast("long"))
      .select(col("epoch").cast("int").as("epoch"), col("doc_id"),
        col("shard"), col("pos"))
  }

  private[graft] val PackStreams = 4 // toy default; sequencePack takes streams as an argument
  private val PackBudget = 64L // tokens per packed training sequence

  /** q172: PACKED-SEQUENCE FRAGMENT INDEX — q57 places each DOC in the
    * packed token stream (start offset + first sequence id, corpus
    * order per (lang, block) shard); this operator finishes the job
    * the loader actually needs done: one row per (document, sequence)
    * FRAGMENT — which token span of the doc lands at which offset of
    * which fixed-[[PackBudget]] sequence, straddles split across
    * boundary rows — i.e. the index a packed-batch loader seeks by and
    * an attention-mask builder resets document boundaries from. It
    * also swaps q57's corpus order for the q170/q52 salted-hash
    * shuffle (`hash60("pack:doc")`, then doc_id), so consecutive
    * sequences mix sources/languages instead of clumping and the
    * packing stays reproducible across engines, runs, and worker
    * counts.
    *
    * The greedy NO-straddle variant (bin resets when a doc would
    * overflow) is deliberately not this operator: its bin ids are a
    * sequential recurrence over the stream — not expressible as one
    * window pass, and not what token-budgeted pretraining uses anyway.
    *
    * Scale: one per-stream running-sum window (partitions bounded by
    * corpus/streams — q170's one deliberate sort; the stream count is
    * the `streams` ARGUMENT, scaled with the cluster, not the corpus —
    * [[PackStreams]] is only the toy default); the
    * fragment explode is row-local (≤ n_tokens/budget + 1 rows per
    * doc). Everything is integer offsets, so the oracle replays
    * packing bit-for-bit.
    */
  def sequencePack(spark: SparkSession, dir: String,
      streams: Int = PackStreams): DataFrame = {
    require(streams >= 1, s"need at least one pack stream, got $streams")
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), size(words(col("text"))).cast("long")
        .as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("k", HashOps.md5_prefix60(concat_ws(":", lit("pack"),
        col("doc_id"))))
      .withColumn("stream", col("k") % streams)
    val w = Window.partitionBy(col("stream")).orderBy(col("k"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("end_off", sum(col("n_tokens")).over(w))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
      .select(col("stream"), col("doc_id"), col("n_tokens"), col("start_off"),
        explode(sequence(expr(s"start_off DIV $PackBudget"),
          expr(s"(end_off - 1) DIV $PackBudget"))).as("seq"))
      .withColumn("seq_start", col("seq") * PackBudget)
      .select(col("stream"), col("seq"), col("doc_id"),
        greatest(col("seq_start") - col("start_off"), lit(0L))
          .as("off_in_doc"),
        greatest(col("start_off") - col("seq_start"), lit(0L))
          .as("off_in_seq"),
        (least(col("seq_start") + PackBudget,
            col("start_off") + col("n_tokens")) -
          greatest(col("seq_start"), col("start_off"))).as("n_frag"))
  }

  private val TokenBudget = 300L // per-source training-token budget

  /** q157: TOKEN-BUDGET QUALITY FILL — the mixture step q63 (count
    * cap) and q83 (ratio plan) don't cover: training runs are budgeted
    * in TOKENS, and the docs spent against the budget should be the
    * best ones, not a hash sample. Per source, docs are ranked by an
    * integer quality proxy (lexical diversity:
    * `1000·|distinct words| DIV |words|` — repetition-penalizing,
    * deterministic) with doc_id tie-break, and the ranked PREFIX whose
    * cumulative token count fits [[TokenBudget]] is kept — greedy
    * highest-quality-first, the standard budgeted-curation shape
    * (quality-classifier ordering swaps in for the proxy unchanged).
    *
    * Scale: one per-source window (sort-based, spillable — the q10
    * shape); when budgets dwarf doc sizes the cutoff can instead be
    * found by q116's histogram rank-selection over score buckets and
    * applied as a row-local filter, same result, no full sort — the
    * documented 100 TB escape hatch.
    */
  def tokenBudgetFill(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("source"),
        size(col("ws")).cast("long").as("n_tokens"),
        scoreMilli(col("ws"))
          .as("score_milli"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score_milli").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("score_milli"), col("cum_tokens"))
  }

  /** Boilerplate window size (words) and the distinct-doc threshold at
    * which a window counts as boilerplate within its source.
    */
  private[operators] val BoilerWords = 5
  private[operators] val BoilerMinDocs = 2

  /** q70: per-source BOILERPLATE removal — CCNet's line-dedup step
    * (Wenzek et al.: strip lines repeated across a domain's pages —
    * headers, footers, nav chrome) restated over [[BoilerWords]]-word
    * windows since the synthetic corpus has no line structure. A window
    * seen in ≥ [[BoilerMinDocs]] DISTINCT documents of the same source
    * is boilerplate and is removed from EVERY document (q66 keeps the
    * first occurrence — dedup; boilerplate has no canonical copy, so
    * all instances go).
    *
    * Scale shape: chunking is row-local; the boilerplate inventory is
    * one (source, hash) shuffle with a partial-agg'd count-distinct;
    * the strip is an equi-join back on the same key — the inventory
    * side holds only phrases that cleared the threshold (a tiny
    * fraction of the corpus) and broadcasts at scale; reassembly
    * groups by doc_id, bounded by document length. Per-source keying
    * also bounds skew: one hot domain shards across its hash space.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val inst = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("source"), posexplode(expr(
        s"""transform(sequence(0L, CAST(size(ws)-1 AS BIGINT) DIV $BoilerWords),
           |  i -> array_join(slice(ws, CAST(i*$BoilerWords+1 AS INT), $BoilerWords), ' '))"""
          .stripMargin)))
      .select(col("doc_id"), col("source"), col("pos").cast("long").as("ci"),
        col("col").as("chunk"))
      .withColumn("h", hash60(col("chunk")))
    val boiler = inst.groupBy(col("source"), col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BoilerMinDocs)
    inst.join(boiler, Seq("source", "h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(col("nd")).as("n_boiler"),
        nullif(array_join(transform(
          array_sort(collect_list(when(col("nd").isNull,
            struct(col("ci"), col("chunk"))))),
          s => s.getField("chunk")), " "), lit("")).as("cleaned_text"))
  }

  /** Target corpus shares per language (milli-units, sums to 1000) for
    * [[mixturePlan]] — deliberately far from the corpus's natural
    * ~uniform split so the plan produces genuine down-sampling rates.
    */
  private val mixTargets: Seq[(String, Long)] = Seq(
    "en" -> 400L, "zh" -> 150L, "de" -> 150L, "fr" -> 150L, "es" -> 150L)

  /** q83: DATA-MIXTURE PLAN — the pretraining rebalancing step: given
    * per-source token counts and target corpus shares, compute each
    * source's deterministic keep-rate (`min(1, target·total /
    * source_tokens)`, in exact milli-integer arithmetic). Rates cap at
    * 1000 milli — a source below its target is never asked to invent
    * data (the realized mixture renormalizes downstream) — and q52's
    * salted-hash sampler applies the rates append-stably. One shuffle
    * for the per-language totals (map-side partials over a 5-value
    * key), a 1-row broadcast for the corpus total — the plan itself is
    * metadata-sized at any corpus scale.
    */
  def mixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val target = mixTargets.foldLeft(lit(null).cast("long")) {
      case (acc, (l, t)) => when(col("lang") === l, t).otherwise(acc)
    }
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), size(words(col("text"))).as("n"))
      .groupBy(col("lang")).agg(sum(col("n")).as("n_tokens"))
      .withColumn("target_milli", target)
    val total = toks.agg(sum(col("n_tokens")).as("total_tokens"))
    withScalar(toks, total)
      // only planned languages emit rows — the oracle inner-joins the
      // target table, so a corpus language absent from mixTargets must
      // be excluded here too, never defaulted to keep-all (its tokens
      // still count toward total_tokens, same as the oracle's `tot`)
      .filter(col("target_milli").isNotNull)
      .withColumn("share_milli", expr("n_tokens * 1000 DIV total_tokens"))
      .withColumn("rate_milli",
        least(lit(1000L), expr("target_milli * total_tokens DIV n_tokens")))
      .withColumn("kept_tokens", expr("n_tokens * rate_milli DIV 1000"))
      .select(col("lang"), col("n_tokens"), col("share_milli"),
        col("target_milli"), col("rate_milli"), col("kept_tokens"))
  }

  /** q175: TEMPERATURE-FLATTENED MIXTURE WEIGHTS — the targetless
    * sibling of q83: instead of hand-set shares, each language's
    * sampling weight is its token count raised to α = 1/2 (the
    * mT5/UL2-style temperature flattening that up-samples low-resource
    * languages without drowning the head), normalized over the corpus:
    * `weight_micro = ⌊√n_s⌋·10⁶ DIV Σ⌊√n⌋`. Per language the plan
    * also reports the tokens drawn under a budget equal to the corpus
    * size and the implied epochs over that language's data in milli —
    * epochs > 1000 is the signature effect: the rare language is seen
    * more than once per pass while the head is subsampled.
    *
    * All-integer after one IEEE `floor(sqrt(double))` (correctly
    * rounded and therefore engine-identical; exact in double through
    * 2^52 tokens). Exactness bound: `total_tokens · weight_micro`
    * stays in int64 through ~9.2·10¹² corpus tokens (≈ 37 TB of
    * text); past that, widen the two products to DECIMAL(38,0) — a
    * cast, not a plan change.
    *
    * Scale: per-language totals are ONE map-side-combined aggregation
    * over a handful of keys; the normalizer is a 1-row broadcast
    * scalar ([[graft.functions.Portable.withScalar]]). The plan output
    * is metadata-sized at any corpus scale — it feeds q52's salted
    * sampler exactly like q83's rates do.
    */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), size(words(col("text"))).as("n"))
      .groupBy(col("lang")).agg(sum(col("n")).as("n_tokens"))
      .withColumn("w_root",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = toks.agg(sum(col("w_root")).as("root_sum"),
      sum(col("n_tokens")).as("total_tokens"))
    withScalar(toks, tot)
      .withColumn("share_micro", expr("n_tokens * 1000000 DIV total_tokens"))
      .withColumn("weight_micro", expr("w_root * 1000000 DIV root_sum"))
      .withColumn("tokens_drawn",
        expr("total_tokens * weight_micro DIV 1000000"))
      .withColumn("epochs_milli", expr("tokens_drawn * 1000 DIV n_tokens"))
      .select(col("lang"), col("n_tokens"), col("share_micro"),
        col("weight_micro"), col("tokens_drawn"), col("epochs_milli"))
  }

  /** q100: the END-TO-END CURATION PIPELINE as ONE declarative plan —
    * every document's final disposition through the gates a
    * pretraining corpus actually runs, in policy order: quality screen
    * (q22's buckets), exact dedup (q14's content-hash keeper), near
    * dedup (q15's verified pairs — the higher-id partner is removed),
    * then the mixture-rate sample (q83's planned per-language rate
    * applied with q52's append-stable salted-hash sampler). One row
    * per document with the verdict and its token count — the
    * "manifest" a downstream tokenize-and-pack stage consumes, and the
    * proof the engine's curation stages COMPOSE: the whole chain is
    * one lazy plan (Catalyst fuses the row-local gates; the joins are
    * the q14/q15 shuffles plus a 5-row broadcast), not a sequence of
    * materialized intermediate tables.
    *
    * Scale: nothing here adds to the component costs — quality is
    * row-local, the keeper join is q14's hash shuffle, the near-dup
    * probe is pair-sized, the rate table is 5 rows. At 100 TB the
    * pipeline IS this plan with a `.write` at the end.
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"),
        size(words(col("text"))).cast("long").as("n_tokens"))
    val qual = TextAnalysis.quality(spark, dir)
      .select(col("doc_id"), col("quality_bucket"))
    val keeper = docs.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val near = Dedup.minhashPairsCached(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("near_dup", lit(true))
    val rates = mixturePlan(spark, dir).select(col("lang"), col("rate_milli"))
    docs.join(qual, "doc_id")
      .join(keeper, "h")
      .join(near, Seq("doc_id"), "left")
      .join(broadcast(rates), Seq("lang"), "left")
      .withColumn("bucket",
        HashOps.md5_prefix60(concat(lit("sample:"),
          col("doc_id").cast("string"))) % 1000)
      .withColumn("verdict",
        when(col("quality_bucket") =!= "ok",
          concat(lit("low_quality:"), col("quality_bucket")))
          .when(col("doc_id") =!= col("keep_id"), "dup_exact")
          .when(col("near_dup"), "dup_near")
          .when(col("rate_milli").isNull, "no_mixture_slot")
          .when(col("bucket") >= col("rate_milli"), "sampled_out")
          .otherwise("kept"))
      .select(col("doc_id"), col("lang"), col("quality_bucket"),
        col("n_tokens"), col("verdict"))
  }

  /** q144 anonymity threshold and the acctbal generalization width. */
  private val AnonK = 5
  private val AnonBalWidth = 2000.0

  /** q144: K-ANONYMITY AUDIT — the privacy gate a released dataset
    * needs next to q49's redaction: every quasi-identifier class
    * (nation, market segment, account-balance bucket) must hold ≥
    * [[AnonK]] individuals or be generalized/suppressed before
    * release. One row per level-0 class with its size, the size of
    * its level-1 generalization (segment dropped — the first rung of
    * the Samarati ladder), and the resulting action:
    * `keep` (already k-anonymous), `generalize` (the coarser class
    * rescues it), `suppress` (even generalized it identifies).
    *
    * Scale shape: ONE corpus shuffle — the level-0 groupBy with
    * map-side partials; the level-1 ladder rung is an aggregate OF
    * those aggregates (classes-sized input, never a second corpus
    * scan), and joins back classes-to-classes. Deeper ladders extend
    * the same way, each rung re-aggregating the previous rung's
    * output — the rollup discipline applied to privacy. The bucket
    * edge uses IEEE floor on one double division, bit-identical
    * across engines.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val l0 = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / AnonBalWidth).as("bal_bucket"))
      .groupBy(col("nation"), col("segment"), col("bal_bucket"))
      .agg(count(lit(1)).as("n"))
    val l1 = l0.groupBy(col("nation"), col("bal_bucket"))
      .agg(sum(col("n")).as("n_generalized"))
    l0.join(l1, Seq("nation", "bal_bucket"))
      .select(col("nation"), col("segment"), col("bal_bucket"), col("n"),
        col("n_generalized"),
        when(col("n") >= AnonK, "keep")
          .when(col("n_generalized") >= AnonK, "generalize")
          .otherwise("suppress").as("action"))
  }

  private val AffBuckets = 256L // hashed-unigram feature space
  private val AffTarget = "src0" // the reference domain being matched

  /** q184: DOMAIN-AFFINITY IMPORTANCE SCORING — DSIR-style data
    * selection (Xie et al., "Data Selection for Language Models via
    * Importance Resampling"): score every document by how much its
    * hashed-unigram profile looks like a TARGET domain ([[AffTarget]])
    * relative to the whole corpus, then keep the high-affinity tail as
    * the up-weighted training slice. The published method weights by a
    * product of per-feature probability ratios; this engine keeps the
    * cross-engine hash gate by using the RATIO OF EXACT INTEGER MASS
    * SUMS instead — score = (Σ_w target-count of w's bucket) · N_corpus
    * over (Σ_w corpus-count) · N_target, in milli via one integer DIV:
    * >1000 means the document's vocabulary sits in buckets the target
    * over-uses. Every operand is an exact long (widen to decimal past
    * ~10⁶-token buckets, the q132 discipline), so no float log-sum can
    * drift between engines.
    *
    * Scale: one explode + ONE [[AffBuckets]]-row count table (KB-sized,
    * broadcast back), one per-doc sum aggregation. The counts cost a
    * second narrow scan here; a production pipeline reads them from
    * the corpus stats it already maintains (q92's profile tier).
    */
  def domainAffinity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(words(col("text"))).as("w"))
      .withColumn("f",
        hash60(concat(lit("aff:"), col("w"))) % AffBuckets)
    val counts = toks.groupBy(col("f"))
      .agg(count(lit(1)).as("cnt_s"),
        sum(when(col("source") === AffTarget, 1L).otherwise(0L))
          .as("cnt_t"))
    val totals = counts.agg(sum(col("cnt_s")).as("ns"),
      sum(col("cnt_t")).as("nt"))
    graft.functions.Portable.withScalar(
      toks.join(broadcast(counts), "f")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("cnt_t")).as("st"),
          sum(col("cnt_s")).as("ss")),
      totals)
      .withColumn("score_milli", expr("(1000 * st * ns) DIV (ss * nt)"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("score_milli"),
        (col("score_milli") >= 1000L).cast("int").as("selected"))
  }

  private val FimRate = 700L // milli of eligible docs FIM-transformed

  /** q188: FILL-IN-THE-MIDDLE SPAN ASSIGNMENT — the FIM data
    * transformation (Bavarian et al., "Efficient Training of Language
    * Models to Fill in the Middle"): a deterministic fraction
    * ([[FimRate]]‰) of documents is split into (prefix, middle,
    * suffix) token spans for infilling training, the rest pass
    * through untouched; transformed docs draw PSM vs SPM ordering
    * 50/50. Every choice — the gate, both cut points, the mode — is a
    * salted content-keyed hash of the doc id, so the assignment is
    * append-stable (re-running over a grown corpus never re-splits an
    * old doc — the q52/q121 discipline) and the oracle replays it
    * bit-for-bit. Spans PARTITION the doc exactly: p+m+s = n_tokens
    * always (the spec asserts it), with empty middles legal (u = v).
    *
    * Scale: pure row-local projection — zero shuffles, zero joins;
    * composes in front of q172's packer as a per-row map.
    */
  def fimSpans(spark: SparkSession, dir: String): DataFrame = {
    val ids = col("doc_id").cast("string")
    def h(salt: String) = hash60(concat(lit(salt), ids))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 2)
      .withColumn("gate", h("fimg:") % 1000)
      .withColumn("u", h("fim1:") % col("n_tokens"))
      .withColumn("v", h("fim2:") % col("n_tokens"))
      .withColumn("applied", col("gate") < FimRate)
      .withColumn("lo", least(col("u"), col("v")))
      .withColumn("hi", greatest(col("u"), col("v")))
      .select(col("doc_id"), col("n_tokens"),
        when(col("applied"), col("lo")).otherwise(col("n_tokens"))
          .as("p_len"),
        when(col("applied"), col("hi") - col("lo")).otherwise(lit(0L))
          .as("m_len"),
        when(col("applied"), col("n_tokens") - col("hi")).otherwise(lit(0L))
          .as("s_len"),
        when(!col("applied"), "none")
          .when(h("fimm:") % 2 === 0, "psm").otherwise("spm").as("mode"))
  }

  /** q195: LOSS-MASK BUDGET PER PACKED SEQUENCE — the loader-facing
    * composition of q172's fragment index with q100's gate verdicts:
    * fragments of documents the pipeline rejects stay IN the packed
    * sequence (dropping them would re-flow every later fragment and
    * destabilize the pack layout under any gate retune) but are
    * LOSS-MASKED, so the trainer keeps long-range context while
    * gradients flow only through kept docs. Per (stream, sequence):
    * fragment count, total tokens, masked tokens, and the trainable
    * fraction in milli — the number a training run budgets real
    * gradient tokens with (a sequence below ~500‰ trainable is
    * usually cheaper to drop outright; this table is how you find
    * them).
    *
    * Scale: the fragment index and the verdicts are the shared q172/
    * q100 plans; the composition is ONE doc_id equi-join and ONE
    * (stream, seq) aggregation with map-side partials.
    */
  def lossMaskBudget(spark: SparkSession, dir: String): DataFrame =
    sequencePack(spark, dir)
      .join(curationPipeline(spark, dir)
        .select(col("doc_id"),
          (col("verdict") =!= "kept").cast("long").as("m")), "doc_id")
      .groupBy(col("stream"), col("seq"))
      .agg(count(lit(1)).as("n_frags"), sum(col("n_frag")).as("n_tokens"),
        sum(col("n_frag") * col("m")).as("n_masked"))
      .withColumn("trainable_milli",
        expr("(1000 * (n_tokens - n_masked)) DIV n_tokens"))

  /** q200 bucket width in milli of the lexical-diversity difficulty
    * score — buckets 0..4 (a perfectly diverse 1000‰ doc lands in 4).
    */
  private val CurrBucketMilli = 250L

  /** q200: CURRICULUM ORDER — the deterministic easy→hard training
    * order curriculum schedules need: difficulty = lexical diversity
    * in milli (distinct/total words — integer-exact on both engines),
    * coarse difficulty buckets ordered ascending, and WITHIN a bucket
    * a salted-hash shuffle (the q170 convention) so consecutive
    * positions mix sources instead of clumping. Output is the per-doc
    * (bucket, global position) table a curriculum loader reads in
    * position order.
    *
    * Scale: the global position comes from q55's two-phase ranker
    * ([[Relational.withGlobalRank]]): ONE range exchange on (bucket,
    * salt) + a numPartitions-row offset broadcast — no global
    * single-partition window, no driver sort. The same plan ranks
    * 100 TB on 1000 executors.
    */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"),
        expr("CAST(1000 AS BIGINT) * size(array_distinct(ws)) DIV size(ws)")
          .as("difficulty_milli"))
      .withColumn("bucket", expr(s"difficulty_milli DIV $CurrBucketMilli"))
      .withColumn("h", HashOps.md5_prefix60(
        concat(lit("curr:"), col("doc_id").cast("string"))))
    Relational.withGlobalRank(d,
        Seq(col("bucket").asc, col("h").asc, col("doc_id").asc))
      .select(col("doc_id"), col("difficulty_milli"), col("bucket"),
        col("rnk").as("pos"))
  }

  private val ShufEpochs = 4 // epochs audited for shuffle decorrelation

  /** q201: EPOCH-SHUFFLE DECORRELATION AUDIT — multi-epoch training
    * only sees "different" data orders if the per-epoch permutations
    * are actually decorrelated; correlated shards re-batch the same
    * doc neighborhoods every epoch. For every epoch pair under the
    * q170 salt convention (`epoch:<e>:<doc>`, epochs 0..3 — a
    * superset of the shipped release's two): the fraction of docs
    * assigned the SAME shard in both epochs, in milli. Uniform
    * independent hashing predicts ≈ 1000/shards; a pair far above
    * that means the salt leaked correlation and the release needs a
    * new one.
    *
    * Scale: ONE doc-grain aggregation collects each doc's E shard
    * assignments (E rows in, one E-entry array out, map-side
    * partials); the E·(E−1)/2 pair expansion is row-local; the final
    * aggregate has E²/2 keys. Never an epoch-pair self-join of the
    * corpus.
    */
  def shuffleDecorrelation(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("epoch", explode(sequence(lit(0), lit(ShufEpochs - 1))))
      .withColumn("shard", HashOps.md5_prefix60(concat_ws(":",
        lit("epoch"), col("epoch"), col("doc_id"))) % Shards)
    a.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("epoch"), col("shard"))))
        .as("sa"))
      .select(explode(expr(
        s"""flatten(transform(sequence(0, ${ShufEpochs - 2}), i ->
           |  transform(sequence(i + 1, ${ShufEpochs - 1}), j ->
           |    struct(sa[i].epoch AS e1, sa[j].epoch AS e2,
           |      CAST(sa[i].shard = sa[j].shard AS BIGINT) AS agree))))"""
          .stripMargin)).as("p"))
      .select(col("p.e1").as("e1"), col("p.e2").as("e2"), col("p.agree"))
      .groupBy(col("e1"), col("e2"))
      .agg(count(lit(1)).as("n_docs"), sum(col("agree")).as("n_agree"))
      .withColumn("agree_milli", expr("1000 * n_agree DIV n_docs"))
  }

  /** q216 model shape: hashed-feature buckets and the keep threshold
    * (milli). 256 buckets suffice for the toy corpus; fastText-style
    * deployments use 2^21 — still a few-MB broadcast, same plan.
    */
  private[graft] val ClfBuckets = 256L
  private[graft] val ClfThreshold = 0L

  /** q216: LINEAR CLASSIFIER INFERENCE over hashed text features — the
    * "apply the trained quality classifier to the corpus" step every
    * production curation stack runs (CCNet/fastText-style): each
    * document's word unigrams + bigrams hash into [[ClfBuckets]]
    * feature buckets and the model is a WEIGHT TABLE joined in as a
    * broadcast. RE-BASED onto the ENGINE-TRAINED model: the weights
    * are q248's averaged-perceptron table
    * ([[Classifier.trainedWeightsCached]] — session-cached, so
    * inference adds zero training cost), and the verdict is
    * sign(Σ w·cnt) ≥ [[ClfThreshold]] — exactly the scorer q249
    * audits held-out and q252 deploys per source, so the whole
    * train → audit → deploy → infer loop runs ONE model. The
    * hash-derived stand-in that previously filled this slot survives
    * only inside q249, as the untrained comparison baseline its audit
    * is defined against. The shipped score is the raw exact-long
    * Σ w·cnt, not a milli mean: trained weights are unbounded, so the
    * old non-negative-numerator DIV shift no longer holds and a mean
    * would hit the Spark-truncates / DuckDB-floors seam — the sum
    * carries the identical verdict and stays exact (with the
    * q249-style in-plan overflow guard: past exact-long range the
    * query refuses loudly).
    *
    * Scale: featurization is row-local (one codegen span); the weight
    * join broadcasts the bucket-cardinality model; the only shuffle
    * is the doc-grain aggregation with map-side partials. Inference
    * cost is O(tokens), independent of model training.
    */
  def classifierScore(spark: SparkSession, dir: String): DataFrame = {
    val w = Classifier.trainedWeightsCached(spark, dir)
    val maxw = w.agg(max(abs(col("w"))).cast("double").as("gw"))
    Classifier.featureCounts(spark, dir)
      .join(broadcast(w), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_features"),
        sum(col("w") * col("cnt")).as("sw"),
        sum(col("cnt")).cast("double").as("gcnt"))
      .crossJoin(broadcast(maxw))
      .select(col("doc_id"), col("n_features"),
        when(col("gw") * col("gcnt") > Long.MaxValue.toDouble,
          raise_error(lit("q216: max|w|·Σcnt exceeds exact-long range " +
            "— normalize per-round deltas before scoring")))
          .otherwise(col("sw")).as("score"))
      .withColumn("keep", (col("score") >= ClfThreshold).cast("int"))
  }

  /** q219 batch shape: documents per training batch and assembly
    * streams. `BatchDocs` is the loader's batch size; `BatchStreams`
    * scales with the cluster exactly as q57/q172's pack streams do.
    */
  private[graft] val BatchDocs = 8
  private[graft] val BatchStreams = 4

  /** q219: LENGTH-BUCKETED BATCH SHAPING — dynamic batching's core
    * table: documents grouped into power-of-two token-length buckets
    * (`bucket = ⌊log2 n⌋ + 1`, row-local via `length(bin(n))`), then
    * assembled into [[BatchDocs]]-document batches in salted-hash
    * order (q170's decorrelation), with each batch's padding waste in
    * milli — the fraction of a `n_docs × max_tokens` rectangular
    * batch tensor that is padding. Mixed-length batches waste compute
    * on pad tokens; bucketing by length is how every serious trainer
    * shapes batches, and this table is both the batch index a loader
    * reads and the audit that justifies the bucketing (the spec
    * proves bucketed total waste < unbucketed waste on the same
    * corpus and order).
    *
    * Scale: bucket + stream assignment is row-local; batch numbering
    * is ONE running row_number per (bucket, stream) — partitions
    * bounded by corpus/streams with the stream count a cluster-sized
    * argument, the q57/q172 posture — and the batch aggregate has
    * map-side partials.
    */
  def batchShaping(spark: SparkSession, dir: String,
      streams: Int = BatchStreams): DataFrame = {
    require(streams >= 1, s"need at least one assembly stream: $streams")
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), size(words(col("text"))).cast("long")
        .as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("bucket", expr("length(bin(n_tokens))"))
      .withColumn("k", hash60(concat_ws(":", lit("batch"), col("doc_id"))))
      .withColumn("stream", (col("k") % streams).cast("int"))
    d.withColumn("rn", row_number().over(Window
        .partitionBy(col("bucket"), col("stream"))
        .orderBy(col("k"), col("doc_id"))))
      .withColumn("batch_id", expr(s"(rn - 1) DIV $BatchDocs"))
      .groupBy(col("bucket"), col("stream"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("pad_waste_milli",
        expr("(1000 * (n_docs * max_tokens - sum_tokens)) " +
          "DIV (n_docs * max_tokens)"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q219_batch_shaping" ->
      ((s: SparkSession, d: String) => batchShaping(s, d)),
    "q216_classifier_score" -> classifierScore,
    "q200_curriculum" -> curriculumOrder,
    "q201_shuffle_decorrelation" -> shuffleDecorrelation,
    "q184_domain_affinity" -> domainAffinity,
    "q188_fim_spans" -> fimSpans,
    "q195_loss_mask" -> lossMaskBudget,
    "q172_sequence_pack" -> ((s: SparkSession, d: String) => sequencePack(s, d)),
    "q170_epoch_shards" -> epochShards,
    "q157_token_budget" -> tokenBudgetFill,
    "q144_k_anonymity" -> kAnonymity,
    "q139_release_manifest" -> releaseManifest,
    "q121_split_assign" -> splitAssign,
    "q122_weighted_sample" -> weightedSample,
    "q100_pipeline" -> curationPipeline,
    "q83_mixture_plan" -> mixturePlan,
    "q175_mix_temperature" -> mixTemperature,
    "q49_redact" -> redact,
    "q50_repetition" -> repetition,
    "q51_contamination" -> contamination,
    "q52_stratified_sample" -> stratifiedSample,
    "q63_source_cap" -> sourceCap,
    "q70_boilerplate" -> boilerplate)

  // ---- DuckDB oracles: identical algorithms, same hashes/thresholds ----

  private val epochShardsSql = {
    val h = graft.functions.Portable.sqlHash60(
      "'epoch:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id, unnest(range($Epochs)) AS epoch
       |           FROM documents),
       |k AS (SELECT doc_id, epoch, $h AS k FROM d),
       |s AS (SELECT doc_id, epoch, k, k % $Shards AS shard FROM k)
       |SELECT CAST(epoch AS INTEGER) AS epoch, doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY epoch, shard
       |    ORDER BY k, doc_id) AS BIGINT) AS pos
       |FROM s""".stripMargin
  }

  private val sequencePackSql = {
    val h = graft.functions.Portable.sqlHash60(
      "'pack:' || CAST(doc_id AS VARCHAR)")
    s"""WITH d0 AS (SELECT doc_id, CAST(len($sqlWords) AS BIGINT) n_tokens
       |            FROM documents),
       |d AS (SELECT doc_id, n_tokens, $h AS k FROM d0 WHERE n_tokens > 0),
       |s AS (SELECT *, k % $PackStreams AS stream FROM d),
       |o AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY stream
       |        ORDER BY k, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
       |        CURRENT ROW) AS BIGINT) end_off FROM s),
       |p AS (SELECT stream, doc_id, n_tokens, end_off,
       |        end_off - n_tokens AS start_off FROM o),
       |f AS (SELECT p.*, unnest(range(start_off // $PackBudget,
       |        (end_off - 1) // $PackBudget + 1)) AS seq FROM p)
       |SELECT stream, seq, doc_id,
       |  greatest(seq * $PackBudget - start_off, 0) AS off_in_doc,
       |  greatest(start_off - seq * $PackBudget, 0) AS off_in_seq,
       |  least(seq * $PackBudget + $PackBudget, start_off + n_tokens)
       |    - greatest(seq * $PackBudget, start_off) AS n_frag
       |FROM f""".stripMargin
  }

  private val tokenBudgetSql =
    s"""WITH d AS (SELECT doc_id, source, $sqlWords ws FROM documents),
       |s AS (SELECT doc_id, source, CAST(len(ws) AS BIGINT) n_tokens,
       |        CAST((1000 * len(list_distinct(ws))) // len(ws) AS BIGINT)
       |          score_milli
       |      FROM d WHERE len(ws) > 0),
       |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
       |        ORDER BY score_milli DESC, doc_id ASC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        cum_tokens FROM s)
       |SELECT doc_id, source, n_tokens, score_milli, cum_tokens
       |FROM c WHERE cum_tokens <= $TokenBudget""".stripMargin


  private val redactSql = {
    val denyList = deny.map(w => s"'$w'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, $sqlWords ws FROM documents)
       |SELECT doc_id,
       |  len(list_filter(ws, w -> list_contains([$denyList], w))) AS n_redactions,
       |  array_to_string(list_transform(ws,
       |    w -> CASE WHEN list_contains([$denyList], w) THEN '[REDACTED]' ELSE w END),
       |    ' ') AS redacted_text
       |FROM d""".stripMargin
  }

  private val repetitionSql =
    s"""WITH d AS (SELECT doc_id, $sqlWords ws FROM documents),
       |f AS (SELECT doc_id, ws FROM d WHERE len(ws) >= 3),
       |g AS (SELECT doc_id, ws,
       |        list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) g2,
       |        list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]) g3
       |      FROM f),
       |s AS (SELECT doc_id, ws, g2, g3, list_sort(ws) sw, list_sort(g2) s2 FROM g),
       |e AS (SELECT doc_id, ws, g2, g3,
       |        list_prepend(0, list_filter(range(1, len(sw)+1), i -> i = len(sw) OR sw[i] <> sw[i+1])) bw,
       |        list_prepend(0, list_filter(range(1, len(s2)+1), i -> i = len(s2) OR s2[i] <> s2[i+1])) b2
       |      FROM s),
       |m AS (SELECT doc_id, len(ws) n_words,
       |        list_max(list_transform(range(1, len(bw)), j -> bw[j+1] - bw[j])) rw,
       |        list_max(list_transform(range(1, len(b2)), j -> b2[j+1] - b2[j])) r2,
       |        len(ws) - len(list_distinct(ws)) dw,
       |        len(g2) ng2, len(g2) - len(list_distinct(g2)) d2,
       |        len(g3) ng3, len(g3) - len(list_distinct(g3)) d3
       |      FROM e),
       |o AS (SELECT doc_id, n_words, rw AS top_word_run,
       |        CAST(rw AS DOUBLE)/n_words AS top_word_frac,
       |        CAST(r2 AS DOUBLE)/ng2 AS top_2gram_frac,
       |        CAST(dw AS DOUBLE)/n_words AS dup_word_frac,
       |        CAST(d2 AS DOUBLE)/ng2 AS dup_2gram_frac,
       |        CAST(d3 AS DOUBLE)/ng3 AS dup_3gram_frac
       |      FROM m)
       |SELECT *, CASE WHEN top_word_frac >= 0.2 THEN 'top_heavy'
       |               WHEN dup_2gram_frac >= 0.1 THEN 'dup_ngram'
       |               ELSE 'ok' END AS rep_bucket
       |FROM o""".stripMargin

  private val contaminationSql =
    s"""WITH w AS (SELECT doc_id, $sqlWords ws FROM documents),
       |d AS (SELECT doc_id, list_distinct(list_transform(
       |        list_transform(range(1, len(ws)-1),
       |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
       |        s -> ${sqlHash60("s")})) g
       |      FROM w WHERE len(ws) >= 3),
       |c AS (SELECT doc_id, unnest(g) h FROM d),
       |p AS (SELECT doc_id probe_id, len(g) n_probe, unnest(g) h FROM d
       |      WHERE doc_id % 50 = 0),
       |j AS (SELECT c.doc_id corpus_doc, p.probe_id, p.n_probe,
       |        count(*) n_shared
       |      FROM c JOIN p USING (h) GROUP BY 1, 2, 3)
       |SELECT corpus_doc, probe_id, n_shared,
       |       CAST(n_shared AS DOUBLE)/n_probe AS overlap
       |FROM j WHERE CAST(n_shared AS DOUBLE)/n_probe >= 0.5""".stripMargin

  private val stratifiedSql = {
    val vals = rates.map { case (l, m) => s"('$l', $m)" }.mkString(", ")
    s"""WITH r(lang, rate_milli) AS (VALUES $vals),
       |s AS (SELECT doc_id, d.lang, source,
       |        ${sqlHash60("'sample:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
       |        rate_milli
       |      FROM documents d JOIN r USING (lang))
       |SELECT doc_id, lang, source, bucket FROM s
       |WHERE bucket < rate_milli""".stripMargin
  }

  /** One window replays the two-phase cap exactly: phase 1 only drops
    * docs that can never reach a source's global top-[[SourceCap]].
    */
  private val sourceCapSql =
    s"""WITH h AS (SELECT doc_id, source,
       |        ${sqlHash60("'cap:' || CAST(doc_id AS VARCHAR)")} AS h
       |      FROM documents),
       |r AS (SELECT doc_id, source,
       |        row_number() OVER (PARTITION BY source
       |          ORDER BY h, doc_id) AS rank_in_source
       |      FROM h)
       |SELECT doc_id, source, rank_in_source
       |FROM r WHERE rank_in_source <= $SourceCap""".stripMargin

  /** q70 replay: identical windowing (q66's chunk CTE plus `source`),
    * identical hash, per-source distinct-doc threshold, strip-all.
    */
  private val boilerplateSql =
    s"""WITH w AS (SELECT doc_id, source, $sqlWords ws FROM documents),
       |c AS (SELECT doc_id, source, CAST(i AS BIGINT) ci,
       |        array_to_string(ws[CAST(i*$BoilerWords+1 AS BIGINT):CAST((i+1)*$BoilerWords AS BIGINT)], ' ') chunk
       |      FROM w, LATERAL unnest(range((len(ws)-1)//$BoilerWords + 1)) t(i)
       |      WHERE len(ws) > 0),
       |hs AS (SELECT doc_id, source, ci, chunk, ${sqlHash60("chunk")} h FROM c),
       |b AS (SELECT source, h, count(DISTINCT doc_id) nd FROM hs
       |      GROUP BY source, h HAVING count(DISTINCT doc_id) >= $BoilerMinDocs)
       |SELECT t.doc_id, count(*) AS n_chunks,
       |  count(b.nd) AS n_boiler,
       |  string_agg(t.chunk, ' ' ORDER BY t.ci) FILTER (b.nd IS NULL) AS cleaned_text
       |FROM hs t LEFT JOIN b ON b.source = t.source AND b.h = t.h
       |GROUP BY t.doc_id""".stripMargin

  private[operators] val mixturePlanSql = {
    val targetRows = mixTargets
      .map { case (l, t) => s"('$l', $t)" }.mkString(", ")
    s"""WITH d AS (SELECT lang, len($sqlWords) n FROM documents),
       |toks AS (SELECT lang, CAST(sum(n) AS BIGINT) n_tokens
       |         FROM d GROUP BY lang),
       |tgt (lang, target_milli) AS (VALUES $targetRows),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) total_tokens FROM toks)
       |SELECT lang, n_tokens,
       |       n_tokens * 1000 // total_tokens AS share_milli,
       |       CAST(target_milli AS BIGINT) AS target_milli,
       |       least(1000, target_milli * total_tokens // n_tokens) AS rate_milli,
       |       n_tokens * least(1000, target_milli * total_tokens // n_tokens)
       |         // 1000 AS kept_tokens
       |FROM toks JOIN tgt USING (lang), tot""".stripMargin
  }

  // q175: same per-language totals, ⌊√n⌋ flattening, identical integer
  // normalization order (weight first, then drawn, then epochs)
  private val mixTemperatureSql =
    s"""WITH d AS (SELECT lang, len($sqlWords) n FROM documents),
       |toks AS (SELECT lang, CAST(sum(n) AS BIGINT) n_tokens
       |         FROM d GROUP BY lang),
       |r AS (SELECT lang, n_tokens,
       |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) w_root
       |      FROM toks),
       |s AS (SELECT CAST(sum(w_root) AS BIGINT) root_sum,
       |        CAST(sum(n_tokens) AS BIGINT) total_tokens FROM r),
       |w AS (SELECT lang, n_tokens,
       |        n_tokens * 1000000 // total_tokens AS share_micro,
       |        w_root * 1000000 // root_sum AS weight_micro,
       |        total_tokens
       |      FROM r, s)
       |SELECT lang, n_tokens, share_micro, weight_micro,
       |  total_tokens * weight_micro // 1000000 AS tokens_drawn,
       |  (total_tokens * weight_micro // 1000000) * 1000 // n_tokens
       |    AS epochs_milli
       |FROM w""".stripMargin

  /** q100 replay: compose the q22/q14/q15/q83/q52 oracle fragments in
    * the same gate order.
    */
  private val pipelineSql =
    // stripMargin BEFORE substituting (the clustersSql discipline):
    // minhashSql contains lines starting with a `||` concat that an
    // outer stripMargin would truncate to `|`
    s"""WITH docs AS (SELECT doc_id, lang, md5(text) h, len($sqlWords) n_tokens
       |             FROM documents),
       |qual AS (SELECT doc_id, quality_bucket FROM (@QUALITY@)),
       |keep AS (SELECT h, min(doc_id) keep_id FROM docs GROUP BY h),
       |near AS (SELECT DISTINCT doc_b AS doc_id FROM (@PAIRS@)),
       |rates AS (SELECT lang, rate_milli FROM (@RATES@))
       |SELECT d.doc_id, d.lang, q.quality_bucket,
       |       CAST(d.n_tokens AS BIGINT) AS n_tokens,
       |       CASE WHEN q.quality_bucket <> 'ok'
       |              THEN 'low_quality:' || q.quality_bucket
       |            WHEN d.doc_id <> k.keep_id THEN 'dup_exact'
       |            WHEN n.doc_id IS NOT NULL THEN 'dup_near'
       |            WHEN r.rate_milli IS NULL THEN 'no_mixture_slot'
       |            WHEN ${sqlHash60("'sample:' || CAST(d.doc_id AS VARCHAR)")} % 1000
       |                 >= r.rate_milli THEN 'sampled_out'
       |            ELSE 'kept' END AS verdict
       |FROM docs d
       |JOIN qual q USING (doc_id)
       |JOIN keep k USING (h)
       |LEFT JOIN near n USING (doc_id)
       |LEFT JOIN rates r USING (lang)""".stripMargin
      .replace("@QUALITY@", TextAnalysis.qualitySql)
      .replace("@PAIRS@", Dedup.minhashSql)
      .replace("@RATES@", mixturePlanSql)

  // q195: fragment index × gate verdicts, both spliced verbatim from
  // their standalone oracles (CTE-in-subquery, the q194 discipline)
  private val lossMaskSql =
    s"""WITH fr AS (SELECT stream, seq, doc_id, n_frag FROM (@FRAGS@)),
       |m AS (SELECT doc_id,
       |        CASE WHEN verdict = 'kept' THEN 0 ELSE 1 END AS m
       |      FROM (@PIPE@))
       |SELECT stream, seq, CAST(count(*) AS BIGINT) AS n_frags,
       |  CAST(sum(n_frag) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_frag * m) AS BIGINT) AS n_masked,
       |  (1000 * (CAST(sum(n_frag) AS BIGINT)
       |     - CAST(sum(n_frag * m) AS BIGINT)))
       |    // CAST(sum(n_frag) AS BIGINT) AS trainable_milli
       |FROM fr JOIN m USING (doc_id)
       |GROUP BY stream, seq""".stripMargin
      .replace("@FRAGS@", sequencePackSql)
      .replace("@PIPE@", pipelineSql)

  private val splitAssignSql =
    s"""SELECT doc_id, lang,
       |  $splitBucketSql AS bucket,
       |  CASE WHEN $splitBucketSql < $SplitTrainMilli
       |         THEN 'train'
       |       WHEN $splitBucketSql < $SplitValMilli
       |         THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents""".stripMargin

  private val weightedSampleSql =
    s"""WITH d AS (SELECT doc_id, lang, greatest(n_chars, 1) AS w,
       |        ${sqlHash60("'wsample:' || CAST(doc_id AS VARCHAR)")}
       |          % ${1L << 30} AS u30
       |      FROM documents),
       |p AS (SELECT doc_id, lang, CAST(w AS BIGINT) AS w,
       |        CAST(u30 * 1073741824 // w AS BIGINT) AS priority FROM d),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang
       |        ORDER BY priority ASC, doc_id ASC) AS rn FROM p)
       |SELECT lang, CAST(rn AS INTEGER) AS rn, doc_id, w, priority
       |FROM r WHERE rn <= $WSampleK""".stripMargin

  private val releaseManifestSql =
    s"""WITH s AS ($splitAssignSql),
       |d AS (SELECT s.split, s.lang,
       |        CAST(len($sqlWords) AS BIGINT) AS toks, n_chars
       |      FROM s JOIN documents USING (doc_id)),
       |m AS (SELECT split, lang, count(*) AS n_docs,
       |        CAST(sum(toks) AS BIGINT) AS n_tokens,
       |        CAST(sum(n_chars) AS BIGINT) AS n_chars
       |      FROM d GROUP BY 1, 2),
       |t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_docs
       |      FROM m GROUP BY 1)
       |SELECT split, m.lang, n_docs, n_tokens, n_chars,
       |  CAST(n_docs AS DOUBLE) / CAST(lang_docs AS DOUBLE) AS lang_share
       |FROM m JOIN t ON m.lang = t.lang""".stripMargin

  private val kAnonymitySql =
    s"""WITH l0 AS (SELECT c_nationkey AS nation, c_mktsegment AS segment,
       |        CAST(floor(c_acctbal / $AnonBalWidth) AS BIGINT) AS bal_bucket,
       |        count(*) AS n
       |      FROM customer GROUP BY 1, 2, 3),
       |l1 AS (SELECT nation, bal_bucket,
       |         CAST(sum(n) AS BIGINT) AS n_generalized
       |       FROM l0 GROUP BY 1, 2)
       |SELECT nation, segment, bal_bucket, n, n_generalized,
       |  CASE WHEN n >= $AnonK THEN 'keep'
       |       WHEN n_generalized >= $AnonK THEN 'generalize'
       |       ELSE 'suppress' END AS action
       |FROM l0 JOIN l1 USING (nation, bal_bucket)""".stripMargin

  private val domainAffinitySql = {
    val h = graft.functions.Portable.sqlHash60("'aff:' || w")
    s"""WITH t AS (SELECT doc_id, source, unnest($sqlWords) AS w
       |           FROM documents),
       |f AS (SELECT doc_id, source, $h % $AffBuckets AS f FROM t),
       |c AS (SELECT f, CAST(count(*) AS BIGINT) AS cnt_s,
       |        CAST(sum(CASE WHEN source = '$AffTarget' THEN 1 ELSE 0 END)
       |          AS BIGINT) AS cnt_t
       |      FROM f GROUP BY f),
       |tot AS (SELECT CAST(sum(cnt_s) AS BIGINT) AS ns,
       |               CAST(sum(cnt_t) AS BIGINT) AS nt FROM c),
       |d AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
       |        CAST(sum(cnt_t) AS BIGINT) AS st,
       |        CAST(sum(cnt_s) AS BIGINT) AS ss
       |      FROM f JOIN c USING (f) GROUP BY doc_id, source)
       |SELECT doc_id, source, n_tokens,
       |  (1000 * st * ns) // (ss * nt) AS score_milli,
       |  CAST((1000 * st * ns) // (ss * nt) >= 1000 AS INTEGER) AS selected
       |FROM d, tot""".stripMargin
  }

  private val fimSpansSql = {
    def h(salt: String) = graft.functions.Portable.sqlHash60(
      s"'$salt' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id, CAST(len($sqlWords) AS BIGINT) AS n
       |           FROM documents),
       |e AS (SELECT doc_id, n, ${h("fimg:")} % 1000 AS gate,
       |        ${h("fim1:")} % n AS u, ${h("fim2:")} % n AS v,
       |        ${h("fimm:")} % 2 AS m
       |      FROM d WHERE n >= 2)
       |SELECT doc_id, n AS n_tokens,
       |  CASE WHEN gate < $FimRate THEN least(u, v) ELSE n END AS p_len,
       |  CASE WHEN gate < $FimRate THEN greatest(u, v) - least(u, v)
       |       ELSE 0 END AS m_len,
       |  CASE WHEN gate < $FimRate THEN n - greatest(u, v)
       |       ELSE 0 END AS s_len,
       |  CASE WHEN gate >= $FimRate THEN 'none'
       |       WHEN m = 0 THEN 'psm' ELSE 'spm' END AS mode
       |FROM e""".stripMargin
  }

  // q200: the difficulty score, bucketing, and salt mirrored exactly;
  // the global rank is the plain window DuckDB can afford at oracle SF
  private val curriculumSql = {
    val h = graft.functions.Portable.sqlHash60(
      "'curr:' || CAST(doc_id AS VARCHAR)")
    s"""WITH w AS (SELECT doc_id, $sqlWords ws FROM documents),
       |d AS (SELECT doc_id,
       |        1000 * len(list_distinct(ws)) // len(ws) AS difficulty_milli
       |      FROM w WHERE len(ws) > 0),
       |b AS (SELECT doc_id, difficulty_milli,
       |        difficulty_milli // $CurrBucketMilli AS bucket, $h AS h
       |      FROM d)
       |SELECT doc_id, CAST(difficulty_milli AS BIGINT) AS difficulty_milli,
       |  CAST(bucket AS BIGINT) AS bucket,
       |  CAST(row_number() OVER (ORDER BY bucket, h, doc_id) AS BIGINT)
       |    AS pos
       |FROM b""".stripMargin
  }

  // q201: the q170 salt expression verbatim; the oracle affords the
  // epoch-pair self-join the engine deliberately avoids
  private val shuffleDecorrSql = {
    val h = graft.functions.Portable.sqlHash60(
      "'epoch:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id, unnest(range($ShufEpochs)) AS epoch
       |           FROM documents),
       |a AS (SELECT doc_id, epoch, $h % $Shards AS shard FROM d)
       |SELECT CAST(x.epoch AS INTEGER) AS e1,
       |  CAST(y.epoch AS INTEGER) AS e2,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN x.shard = y.shard THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_agree,
       |  (1000 * CAST(sum(CASE WHEN x.shard = y.shard THEN 1 ELSE 0 END)
       |    AS BIGINT)) // CAST(count(*) AS BIGINT) AS agree_milli
       |FROM a x JOIN a y ON x.doc_id = y.doc_id AND x.epoch < y.epoch
       |GROUP BY x.epoch, y.epoch""".stripMargin
  }

  // q216: inference replayed against the TRAINED model — the K
  // training rounds unroll in SQL (Classifier.trainCtes, the same
  // chain q248/q249/q252 splice) and every doc's Σ w·cnt must
  // hash-match; lazy for the object-init ordering the other spliced
  // oracles follow
  private lazy val classifierScoreSql =
    s"""${Classifier.trainCtes},
       |sct AS (SELECT fall.doc_id,
       |        CAST(sum(fall.cnt) AS BIGINT) n_features,
       |        CAST(sum(w.w * fall.cnt) AS BIGINT) score
       |      FROM fall JOIN wavg w USING (b) GROUP BY fall.doc_id)
       |SELECT doc_id, n_features, score,
       |  CAST(score >= $ClfThreshold AS INTEGER) AS keep
       |FROM sct""".stripMargin

  // q219: bucket/stream/batch assembly replayed; DuckDB has no bin(),
  // so the power-of-two bucket is the bit length via floor(log2)+1 —
  // computed as len(printf('%b', n)) for exact integer parity
  private val batchShapingSql =
    s"""WITH d0 AS (SELECT doc_id,
       |         CAST(len(@WS@) AS BIGINT) n_tokens FROM documents),
       |d AS (SELECT doc_id, n_tokens,
       |        CAST(len(printf('%b', n_tokens)) AS INTEGER) bucket,
       |        @BK@ k
       |      FROM d0 WHERE n_tokens > 0),
       |s AS (SELECT doc_id, n_tokens, bucket, k,
       |        CAST(k % $BatchStreams AS INTEGER) stream FROM d),
       |r AS (SELECT bucket, stream, n_tokens,
       |        row_number() OVER (PARTITION BY bucket, stream
       |          ORDER BY k, doc_id) rn
       |      FROM s)
       |SELECT bucket, stream, (rn - 1) // $BatchDocs batch_id,
       |  count(*) n_docs, max(n_tokens) max_tokens,
       |  CAST(sum(n_tokens) AS BIGINT) sum_tokens,
       |  (1000 * (count(*) * max(n_tokens) - CAST(sum(n_tokens) AS BIGINT)))
       |    // (count(*) * max(n_tokens)) pad_waste_milli
       |FROM r GROUP BY bucket, stream, (rn - 1) // $BatchDocs""".stripMargin
      .replace("@WS@", sqlWords)
      .replace("@BK@",
        sqlHash60("'batch:' || CAST(doc_id AS VARCHAR)"))

  val oracle: Map[String, String] = Map(
    "q219_batch_shaping" -> batchShapingSql,
    "q216_classifier_score" -> classifierScoreSql,
    "q200_curriculum" -> curriculumSql,
    "q201_shuffle_decorrelation" -> shuffleDecorrSql,
    "q184_domain_affinity" -> domainAffinitySql,
    "q188_fim_spans" -> fimSpansSql,
    "q195_loss_mask" -> lossMaskSql,
    "q144_k_anonymity" -> kAnonymitySql,
    "q139_release_manifest" -> releaseManifestSql,
    "q172_sequence_pack" -> sequencePackSql,
    "q170_epoch_shards" -> epochShardsSql,
    "q157_token_budget" -> tokenBudgetSql,
    "q121_split_assign" -> splitAssignSql,
    "q122_weighted_sample" -> weightedSampleSql,
    "q100_pipeline" -> pipelineSql,
    "q83_mixture_plan" -> mixturePlanSql,
    "q175_mix_temperature" -> mixTemperatureSql,
    "q49_redact" -> redactSql,
    "q50_repetition" -> repetitionSql,
    "q51_contamination" -> contaminationSql,
    "q52_stratified_sample" -> stratifiedSql,
    "q63_source_cap" -> sourceCapSql,
    "q70_boilerplate" -> boilerplateSql)
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.operators.Checkpoints._
import graft.sources.Tables

/** EVAL-SET DECONTAMINATION and gate calibration — split leakage
  * (q96), cross-split n-gram leakage (q178), the composed repair
  * verdicts (q194), and the quality-by-duplication calibration that
  * justifies q100's gate order (q198). Split from `Dedup.scala`: these
  * consume the candidate kernels (exact hash grouping, the verified
  * minhash pair set) and the shipped split convention
  * (`Curation.splitBucketSql`) without adding corpus-shaped work of
  * their own — every composition is pair- or bucket-grain.
  */
object Decontam extends graft.Module {
  /** q96: SPLIT LEAKAGE AUDIT — assign every document a deterministic
    * content-hash train/val/test split (800/100/100 of 1000 buckets on
    * `hash60(text)` — exact duplicates land in the SAME split by
    * construction, so exact-dup contamination is impossible), then
    * count the q15 verified near-dup pairs by (split_a, split_b): any
    * pair crossing splits is evaluation leakage a dedup-unaware split
    * would ship. The audit every train/test separation needs before a
    * benchmark number can be trusted, complementing q51 (external
    * probe-set contamination) with INTERNAL split hygiene.
    *
    * Scale shape: split assignment is a row-local hash; the audit
    * joins the (near-dup-sized, not corpus-sized) pair set to the
    * assignment twice on doc id — equi-joins AQE sizes freely — and
    * aggregates a ≤9-row grid. Cost ∝ near-dup pairs, the same
    * candidate set q15 already bounded by banding.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val split = Tables.documents(spark, dir)
      // q121's shared bucket function AND fractions
      // (Curation.splitBucket / SplitTrainMilli / SplitValMilli): the
      // audit measures the split the pipeline ships, from one site
      .select(col("doc_id"), Curation.splitBucket(col("text")).as("m"))
      .select(col("doc_id"),
        when(col("m") < Curation.SplitTrainMilli, "train")
          .when(col("m") < Curation.SplitValMilli, "val")
          .otherwise("test").as("split"))
    val pairs = Dedup.minhashPairsCached(spark, dir).select(col("doc_a"), col("doc_b"))
    pairs
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        "doc_b")
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", col("split_a") =!= col("split_b"))
  }

  private val LeakN = 8 // decontamination gram width — the 8–13-token
  // overlap convention published eval decontamination uses, at the
  // low end because the corpus' documents are ~10²-token scale

  /** q178: CROSS-SPLIT N-GRAM LEAKAGE — decontamination at n-gram
    * granularity, the check q96 (whole-document near-dup leakage)
    * cannot make: for every TEST-split document, what fraction of its
    * distinct word-[[LeakN]]-grams also appears anywhere in the TRAIN
    * split. This is the published-eval hygiene number (the "13-gram
    * overlap" style audit): a test doc can be far from every train doc
    * by whole-document similarity and still have most of its n-grams
    * memorizable verbatim. Splits come from [[Curation.splitBucket]] —
    * the q121 assignment function itself, with its
    * [[Curation.SplitTrainMilli]]/[[Curation.SplitValMilli]] fractions
    * — so this audit and the assignment it audits can never use
    * different splits.
    *
    * Scale: gram hashing is row-local ([[graft.functions.HashOps]]
    * one-pass kernel); the train gram set and the probe are ONE
    * gram-hash-keyed equi-join (distinct + left join with map-side
    * partials) — exactly the shape production decontamination runs,
    * where the train gram table is the big side and shards by hash.
    * The per-doc fraction is exact integer milli.
    */
  def ngramLeakage(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), Curation.splitBucket(col("text")).as("m"),
        words(col("text")).as("ws"))
      .filter(size(col("ws")) >= LeakN)
      .select(col("doc_id"), col("m"), array_distinct(
        graft.functions.HashOps.shingle_hash60(col("ws"), LeakN)).as("gs"))
      .cp() // feeds the train gram set AND the test probes
    val train = d.filter(col("m") < Curation.SplitTrainMilli)
      .select(explode(col("gs")).as("g")).distinct()
      .withColumn("seen", lit(1L))
    val test = d.filter(col("m") >= Curation.SplitValMilli)
      .select(col("doc_id"), explode(col("gs")).as("g"))
    test.join(train, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
      .withColumn("leak_milli", expr("1000 * n_seen DIV n_grams"))
  }

  private val GramQuarantineMilli = 500L // q194 gram-leak threshold

  /** q194: EVAL-SET DECONTAMINATION VERDICTS — the REPAIR step the
    * q96/q178 audits feed: for every TEST-split document, decide
    * whether its eval score can be trusted, quarantining docs that
    * leak through EITHER channel — a q15 near-dup partner in the
    * train split (whole-document leakage) or ≥
    * [[GramQuarantineMilli]]‰ of its [[LeakN]]-grams present anywhere
    * in train (verbatim-memorization leakage; docs too short to gram
    * carry 0). Quarantine means EXCLUDE FROM EVAL — the published
    * convention — never "move to train", which would re-leak the
    * partner in the other direction on the next split audit. All
    * three kernels are the shared shipping ones ([[Curation
    * .splitBucket]], [[Dedup.dedupMinhash]], [[ngramLeakage]]), so the
    * verdicts govern exactly the split, candidates, and grams the
    * pipeline uses.
    *
    * Scale: the pair channel is the band-join pair set against a
    * train-id semi-join; the gram channel is q178's one gram shuffle;
    * the final assembly is two left joins on doc_id. Nothing rescans
    * the corpus beyond what the audits already scan.
    */
  def evalDecontam(spark: SparkSession, dir: String): DataFrame = {
    val split = Tables.documents(spark, dir)
      .select(col("doc_id"), Curation.splitBucket(col("text")).as("m"))
    val test = split.filter(col("m") >= Curation.SplitValMilli)
      .select(col("doc_id"))
    val train = split.filter(col("m") < Curation.SplitTrainMilli)
      .select(col("doc_id").as("partner"))
    val pairs = Dedup.minhashPairsCached(spark, dir).select(col("doc_a"), col("doc_b"))
    val pairLeaked = pairs
      .select(col("doc_a").as("doc_id"), col("doc_b").as("partner"))
      .unionByName(pairs
        .select(col("doc_b").as("doc_id"), col("doc_a").as("partner")))
      .join(train, "partner").select(col("doc_id")).distinct()
      .withColumn("pair_leak", lit(1))
    val gram = ngramLeakage(spark, dir)
      .select(col("doc_id"), col("leak_milli"))
    test.join(pairLeaked, Seq("doc_id"), "left")
      .join(gram, Seq("doc_id"), "left")
      .withColumn("leak_milli", coalesce(col("leak_milli"), lit(0L)))
      .withColumn("pair_leak", coalesce(col("pair_leak"), lit(0)))
      .withColumn("gram_leak",
        (col("leak_milli") >= GramQuarantineMilli).cast("int"))
      .withColumn("reason",
        when(col("pair_leak") === 1 && col("gram_leak") === 1, "both")
          .when(col("pair_leak") === 1, "pair")
          .when(col("gram_leak") === 1, "gram")
          .otherwise("none"))
      .select(col("doc_id"), col("leak_milli"), col("reason"),
        when(col("reason") === "none", "keep").otherwise("quarantine")
          .as("verdict"))
  }

  /** q198: QUALITY×DUPLICATION CALIBRATION — does the cheap quality
    * gate's verdict predict the expensive duplication problems? Per
    * q22 quality bucket: corpus count, exact-duplicate rate (q14's
    * content-hash kernel: the text occurs more than once verbatim)
    * and near-duplicate rate (q15 band-join pair membership), both in
    * milli. This is the audit that justifies (or refutes) running
    * gates cheapest-first in q100's pipeline: if `short`/`repetitive`
    * docs duplicate at 10× the `ok` rate, the quality gate is also a
    * cheap pre-dedup filter; if the rates are flat, it is not.
    *
    * Scale: three shared kernels (row-local scoring, one
    * content-hash shuffle, the banded pair join), assembled by two
    * doc_id left joins and ONE bucket-grain aggregation with map-side
    * partials. Nothing here adds a pass over the corpus.
    */
  def qualityDupCalibration(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.quality(spark, dir)
      .select(col("doc_id"), col("quality_bucket"))
    val exact = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .join(Dedup.dedupExact(spark, dir).filter(col("n_copies") >= 2)
        .select(col("content_hash")), "content_hash")
      .select(col("doc_id")).withColumn("is_exact", lit(1L))
    val pairs = Dedup.minhashPairsCached(spark, dir)
    val near = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("is_near", lit(1L))
    q.join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .groupBy(col("quality_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_exact"), lit(0L))).as("n_exact_dup"),
        sum(coalesce(col("is_near"), lit(0L))).as("n_near_dup"))
      .withColumn("exact_milli", expr("1000 * n_exact_dup DIV n_docs"))
      .withColumn("near_milli", expr("1000 * n_near_dup DIV n_docs"))
  }

  private val splitLeakageSql =
    s"""WITH pr AS (SELECT doc_a, doc_b FROM (@PAIRS@)),
       |s AS (SELECT doc_id,
       |        CASE WHEN m < ${Curation.SplitTrainMilli} THEN 'train'
       |             WHEN m < ${Curation.SplitValMilli} THEN 'val'
       |             ELSE 'test' END split
       |      FROM (SELECT doc_id, @BUCKET@ m FROM documents))
       |SELECT sa.split AS split_a, sb.split AS split_b,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       sa.split <> sb.split AS leaked
       |FROM pr JOIN s sa ON pr.doc_a = sa.doc_id
       |        JOIN s sb ON pr.doc_b = sb.doc_id
       |GROUP BY 1, 2, 4""".stripMargin
      .replace("@PAIRS@", Dedup.minhashSql)
      .replace("@BUCKET@", Curation.splitBucketSql)

  // q194: both leak channels spliced from their standalone oracles —
  // the pair set verbatim, the gram audit as a CTE-in-subquery.
  // LAZY: ngramLeakageSql is declared below; a strict val would
  // splice null at object init (the embedSql precedent)
  private lazy val evalDecontamSql =
    s"""WITH s AS (SELECT doc_id, ${Curation.splitBucketSql} m
       |           FROM documents),
       |te AS (SELECT doc_id FROM s WHERE m >= ${Curation.SplitValMilli}),
       |tr AS (SELECT doc_id AS partner FROM s
       |       WHERE m < ${Curation.SplitTrainMilli}),
       |pr AS (SELECT doc_a, doc_b FROM (@PAIRS@)),
       |pl AS (SELECT DISTINCT u.doc_id FROM (
       |         SELECT doc_a AS doc_id, doc_b AS partner FROM pr
       |         UNION ALL SELECT doc_b, doc_a FROM pr) u
       |       JOIN tr ON tr.partner = u.partner),
       |gl AS (SELECT doc_id, leak_milli FROM (@GRAM@)),
       |v AS (SELECT te.doc_id,
       |        coalesce(gl.leak_milli, 0) AS leak_milli,
       |        CASE WHEN pl.doc_id IS NOT NULL THEN 1 ELSE 0 END pairlk,
       |        CASE WHEN coalesce(gl.leak_milli, 0)
       |               >= $GramQuarantineMilli THEN 1 ELSE 0 END gramlk
       |      FROM te LEFT JOIN pl ON pl.doc_id = te.doc_id
       |           LEFT JOIN gl ON gl.doc_id = te.doc_id)
       |SELECT doc_id, leak_milli,
       |  CASE WHEN pairlk = 1 AND gramlk = 1 THEN 'both'
       |       WHEN pairlk = 1 THEN 'pair'
       |       WHEN gramlk = 1 THEN 'gram'
       |       ELSE 'none' END AS reason,
       |  CASE WHEN pairlk = 0 AND gramlk = 0 THEN 'keep'
       |       ELSE 'quarantine' END AS verdict
       |FROM v""".stripMargin
      .replace("@PAIRS@", Dedup.minhashSql)
      .replace("@GRAM@", ngramLeakageSql)

  // q178: the shipped split convention (Curation.splitBucketSql, the
  // q121 oracle's own expression), grams joined with the shingle
  // kernel's single-space convention (q15's sqlShingles)
  private val ngramLeakageSql = {
    val gram = (0 until LeakN).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"""WITH w AS (SELECT doc_id, ${Curation.splitBucketSql} m, $sqlWords ws
       |           FROM documents),
       |g AS (SELECT doc_id, m, list_distinct(list_transform(
       |        range(1, len(ws) - ${LeakN - 2}),
       |        i -> ${sqlHash60(gram)})) gs
       |      FROM w WHERE len(ws) >= $LeakN),
       |tr AS (SELECT DISTINCT unnest(gs) g FROM g
       |       WHERE m < ${Curation.SplitTrainMilli}),
       |te AS (SELECT doc_id, unnest(gs) g FROM g
       |       WHERE m >= ${Curation.SplitValMilli}),
       |j AS (SELECT doc_id, CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END seen
       |      FROM te LEFT JOIN tr USING (g))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(seen) AS BIGINT) AS n_seen,
       |  CAST(1000 * sum(seen) AS BIGINT) // count(*) AS leak_milli
       |FROM j GROUP BY doc_id""".stripMargin
  }

  // q198: the q22 bucket expression spliced whole, the q14 exact-dup
  // grouping and the q15 pair set inlined as membership flags
  private val qualityDupSql =
    s"""WITH q AS (SELECT doc_id, quality_bucket
       |           FROM (${TextAnalysis.qualitySql})),
       |eh AS (SELECT md5(text) AS content_hash FROM documents
       |       GROUP BY 1 HAVING count(*) >= 2),
       |e AS (SELECT doc_id, 1 AS is_exact FROM documents
       |      JOIN eh ON md5(text) = content_hash),
       |pr AS (SELECT doc_a, doc_b FROM (@PAIRS@)),
       |n AS (SELECT DISTINCT doc_id, 1 AS is_near FROM (
       |        SELECT doc_a AS doc_id FROM pr
       |        UNION ALL SELECT doc_b FROM pr) u)
       |SELECT quality_bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(coalesce(is_exact, 0)) AS BIGINT) AS n_exact_dup,
       |  CAST(sum(coalesce(is_near, 0)) AS BIGINT) AS n_near_dup,
       |  (1000 * CAST(sum(coalesce(is_exact, 0)) AS BIGINT))
       |    // CAST(count(*) AS BIGINT) AS exact_milli,
       |  (1000 * CAST(sum(coalesce(is_near, 0)) AS BIGINT))
       |    // CAST(count(*) AS BIGINT) AS near_milli
       |FROM q LEFT JOIN e USING (doc_id) LEFT JOIN n USING (doc_id)
       |GROUP BY quality_bucket""".stripMargin
      .replace("@PAIRS@", Dedup.minhashSql)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q96_split_leakage" -> splitLeakage,
    "q178_ngram_leakage" -> ngramLeakage,
    "q194_eval_decontam" -> evalDecontam,
    "q198_quality_dup_calibration" -> qualityDupCalibration)

  val oracle: Map[String, String] = Map(
    "q96_split_leakage" -> splitLeakageSql,
    "q178_ngram_leakage" -> ngramLeakageSql,
    "q194_eval_decontam" -> evalDecontamSql,
    "q198_quality_dup_calibration" -> qualityDupSql)
}

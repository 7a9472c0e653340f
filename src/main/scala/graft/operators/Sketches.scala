package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.operators.Checkpoints._
import graft.sources.Tables

/** MERGEABLE CARDINALITY SKETCHES over the shingle sets — per-source
  * HLL union audit (q134), sketch persistence + incremental merge
  * (q138), and KMV bottom-k Jaccard (q151). Split from `Dedup.scala`:
  * KB-sized mergeable state with in-plan bound checks (est_ok is part
  * of the hash gate), the production path for distinct counts a 100 TB
  * corpus cannot count exactly per night.
  */
object Sketches extends graft.Module {
  private val SketchLgK = 12 // HLL registers: rsd ≈ 1.04/√2^12 ≈ 1.6%

  private val SketchBoundMilli = 100L // accepted |est−exact| ≤ 10%

  // The q134/q138 oracles hard-code est_ok = 1 — a DETERMINISTIC gate
  // over a statistical estimate. That is only sound while the accepted
  // bound dwarfs the sketch's relative standard deviation: at ≥ 5×rsd
  // the pass probability is ≈ 1 − 6e-7 per pair (Gaussian tail), so a
  // failure means a broken sketch, not bad luck. Anyone tuning either
  // constant must keep (or consciously revisit) this margin — the
  // require makes the contract unskippable at class-load time.
  private val SketchRsdMilli: Long =
    math.ceil(1040.0 / math.sqrt((1L << SketchLgK).toDouble)).toLong
  require(SketchBoundMilli >= 5 * SketchRsdMilli,
    s"q134/q138 est_ok is pinned TRUE in the oracles; bound " +
      s"${SketchBoundMilli}m must stay >= 5x rsd ${SketchRsdMilli}m " +
      "or the deterministic hash gate becomes a coin flip")

  /** q134: MERGEABLE DISTINCT SKETCHES — per-source HLL sketches of
    * the shingle-hash sets, UNIONED pairwise to estimate cross-source
    * content overlap (`est(A∪B)` + exact counts → inclusion-exclusion)
    * with the q90 bound-check discipline: the engine compares its own
    * estimate to the exact union IN-PLAN and emits the verdict, so a
    * drifted sketch breaks the oracle hash. Mergeability is the whole
    * 100 TB story: per-source sketches build in one pass with map-side
    * partials (register-max merges, order-insensitive), persist KB-
    * sized, and any pair/rollup unions later WITHOUT rescanning the
    * corpus — the exact intersection here exists only to check the
    * contract at test scale and is the thing the sketch replaces at
    * 100 TB.
    */
  /** Per-source shingle hashes (duplicates retained — HLL inserts are
    * idempotent; set consumers add `.distinct()`). ONE pipeline shared
    * by q134 and q138 so their oracle contracts (copies of the same
    * DuckDB CTE) can never diverge on the shingle derivation.
    */
  private def sourceShingles(docs: DataFrame): DataFrame = docs
    .select(col("source"), words(col("text")).as("ws"))
    .filter(size(col("ws")) >= 3)
    .select(col("source"),
      explode(graft.functions.HashOps.shingle_hash60(col("ws"), 3)).as("h"))

  def sketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val sh = sourceShingles(Tables.documents(spark, dir))
      .distinct() // the (source, shingle-hash) SET
      .cp() // feeds counts, sketches, intersections
    val counts = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val sketches = sh.groupBy(col("source"))
      .agg(expr(s"hll_sketch_agg(h, $SketchLgK)").as("sk"))
      .join(counts, "source")
    val inter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("exact_inter"))
    val pairs = sketches.as("x").join(broadcast(sketches.as("y")),
        col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"),
        expr("hll_sketch_estimate(hll_union(x.sk, y.sk))").as("est_union"))
    pairs.join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .withColumn("exact_union", col("n_a") + col("n_b") - col("exact_inter"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("exact_inter"), col("exact_union"),
        (abs(col("est_union") - col("exact_union")) * 1000 <=
          lit(SketchBoundMilli) * col("exact_union")).cast("int").as("est_ok"))
  }

  /** q138: SKETCH PERSISTENCE + INCREMENTAL MERGE — the production
    * lifecycle q134's one-shot build omits: per-source HLL sketches of
    * the BASE corpus (q58's increment convention: doc_id % 10 == 7 is
    * the new drop) are written to parquet as binary columns, READ BACK
    * (round-tripping the datasketches serialization through the
    * column format), and unioned with sketches of the increment alone
    * — the merged estimate covers the full corpus while the base is
    * never rescanned. Bound-checked in-plan against the exact distinct
    * count (q90/q134 discipline), so a serialization bug or a drifted
    * merge breaks the driver hash.
    *
    * Scale: this is THE reason sketches go in the metadata tier — a
    * nightly drop updates every per-source distinct count by scanning
    * only |increment|, with KB-sized reads of yesterday's state;
    * HLL inserts are idempotent, so dup hashes across strata merge
    * correctly by construction (no distinct needed anywhere).
    */
  def sketchIncrement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = col("doc_id") % 10 === 7
    val skDir = Scratch.dir("graft_sketch")
    sourceShingles(docs.filter(!isNew))
      .groupBy(col("source"))
      .agg(expr(s"hll_sketch_agg(h, $SketchLgK)").as("sk"))
      .write.mode("overwrite").parquet(skDir)
    val baseSk = spark.read.parquet(skDir)
    val incSk = sourceShingles(docs.filter(isNew))
      .groupBy(col("source"))
      .agg(expr(s"hll_sketch_agg(h, $SketchLgK)").as("sk_inc"))
    val merged = baseSk.join(incSk, Seq("source"), "full_outer")
      .select(col("source"), expr("hll_sketch_estimate(CASE " +
        "WHEN sk IS NULL THEN sk_inc WHEN sk_inc IS NULL THEN sk " +
        "ELSE hll_union(sk, sk_inc) END)").as("est_n"))
    val exact = sourceShingles(docs).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("exact_n"))
    merged.join(exact, "source")
      .select(col("source"), col("exact_n"),
        (abs(col("est_n") - col("exact_n")) * 1000 <=
          lit(SketchBoundMilli) * col("exact_n")).cast("int").as("est_ok"))
  }

  private val KmvK = 1024 // bottom-k sketch size (distinct k-min hashes)

  // q151's est_ok is pinned TRUE in the oracle (the q134/q138 contract
  // pattern): the KMV Jaccard estimator is a hypergeometric sample of
  // k union elements, sd <= 0.5/sqrt(k) ≈ 15.7 milli absolute at
  // k = 1024, so the accepted absolute bound must stay >= 6 sigma or
  // the deterministic hash gate becomes a coin flip.
  private val KmvBoundMilli = 100L
  require(KmvBoundMilli.toDouble >= 6.0 * 500.0 / math.sqrt(KmvK.toDouble),
    s"q151 est_ok is pinned TRUE; bound ${KmvBoundMilli}m must stay " +
      s">= 6x the k=$KmvK KMV sd (${500.0 / math.sqrt(KmvK.toDouble)}m)")

  /** q151: KMV (BOTTOM-K) SKETCH JACCARD — per-source k-minimum-values
    * sketches of the shingle-hash sets, pairwise-merged to estimate
    * cross-source JACCARD directly: the set operation HLL registers
    * structurally cannot support (q134 unions two HLLs but must
    * inclusion-exclude intersections from exact counts; a KMV sketch
    * retains sample VALUES, so `|kmin_k(A∪B) ∩ A ∩ B| / k` estimates
    * J(A,B) from the sketches alone). The sketch is the k smallest
    * DISTINCT hashes per source — here `row_number() ≤ k` over the
    * deduplicated set, computed on the SAME source-keyed shuffle that
    * produces the exact per-source counts, so the whole sketch+count
    * build is one exchange of whole-stage-codegen operators (the
    * previous typed `Aggregator` ran the hot path through object
    * serialization outside codegen and needed a second aggregation for
    * the counts). The estimate is bound-checked IN-PLAN against the
    * exact intersection join (the q90/q134 discipline, |est−exact| ≤
    * [[KmvBoundMilli]] milli absolute) and every arithmetic step is
    * integer (DIV), so the oracle replays the identical sketch — hash
    * equality pins the estimator itself, not just the verdict.
    *
    * Scale: the exact intersection here exists only to check the
    * contract at test scale and is the thing the sketch replaces at
    * 100 TB; sketch state is k·8 bytes per source — metadata-tier. The
    * per-source window sort is over the distinct shingle set (the same
    * shape the oracle replays); a corpus whose per-source set no
    * longer sorts comfortably in one task partial-prunes first — each
    * scan partition can only contribute its own bottom-k, so a
    * per-(source, partition) `row_number() ≤ k` pre-cut bounds the
    * exchange at k rows per source per split without changing the
    * result.
    */
  /** The q151 sketch+count build over a distinct `(source, h)` set:
    * per source, the exact distinct count AND the k smallest hashes
    * sorted ascending, in ONE window + grouped aggregation on the same
    * source-keyed exchange. Exposed so the kernel spec can pin the
    * window form against a straight-line bottom-k reference.
    */
  private[graft] def kmvSketch(dsh: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    dsh
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(when(col("rn") <= k, col("h"))))
          .as("kl"))
  }

  def kmvJaccard(spark: SparkSession, dir: String): DataFrame = {
    val dsh = sourceShingles(Tables.documents(spark, dir))
      .distinct() // the (source, shingle-hash) SET
      .cp() // feeds sketch+count build and the exact check
    val sk = kmvSketch(dsh, KmvK)
    val inter = dsh.as("a").join(dsh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("exact_inter"))
    sk.as("x").join(broadcast(sk.as("y")), col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"),
        col("x.kl").as("ka"), col("y.kl").as("kb"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .withColumn("u",
        slice(array_sort(array_union(col("ka"), col("kb"))), 1, KmvK))
      .withColumn("kp", size(col("u")).cast("long"))
      .withColumn("n_both", size(array_intersect(col("u"),
        array_intersect(col("ka"), col("kb")))).cast("long"))
      .withColumn("est_milli", expr("(1000 * n_both) DIV kp"))
      .withColumn("exact_milli",
        expr("(1000 * exact_inter) DIV (n_a + n_b - exact_inter)"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("exact_inter"), col("est_milli"), col("exact_milli"),
        (abs(col("est_milli") - col("exact_milli")) <= KmvBoundMilli)
          .cast("int").as("est_ok"))
  }

  // est_ok is asserted as literal truth: the engine computed the
  // verdict in-plan against the exact union; a sketch outside the
  // bound emits 0 there and fails this hash
  private val sketchUnionSql =
    s"""WITH w AS (SELECT source, $sqlWords ws FROM documents),
       |s AS (SELECT DISTINCT source, h FROM (
       |    SELECT source, unnest(list_transform(
       |        list_transform(range(1, len(ws)-1),
       |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
       |        g -> ${sqlHash60("g")})) AS h
       |    FROM w WHERE len(ws) >= 3)),
       |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
       |i AS (SELECT a.source sa, b.source sb, CAST(count(*) AS BIGINT) AS xi
       |      FROM s a JOIN s b ON a.h = b.h AND a.source < b.source
       |      GROUP BY 1, 2),
       |p AS (SELECT x.source source_a, y.source source_b, x.n n_a, y.n n_b
       |      FROM c x JOIN c y ON x.source < y.source)
       |SELECT source_a, source_b, n_a, n_b,
       |  coalesce(xi, 0) AS exact_inter,
       |  n_a + n_b - coalesce(xi, 0) AS exact_union,
       |  CAST(1 AS INTEGER) AS est_ok
       |FROM p LEFT JOIN i ON source_a = i.sa AND source_b = i.sb""".stripMargin

  // est_ok asserted as literal truth — q134's contract pattern: the
  // in-plan verdict fails the hash if the round-tripped merge drifts
  private[operators] val sketchIncrementSql =
    s"""WITH w AS (SELECT source, $sqlWords ws FROM documents),
       |s AS (SELECT DISTINCT source, h FROM (
       |    SELECT source, unnest(list_transform(
       |        list_transform(range(1, len(ws)-1),
       |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
       |        g -> ${sqlHash60("g")})) AS h
       |    FROM w WHERE len(ws) >= 3))
       |SELECT source, CAST(count(*) AS BIGINT) AS exact_n,
       |  CAST(1 AS INTEGER) AS est_ok
       |FROM s GROUP BY source""".stripMargin

  // Full sketch REPLICATION, not just a pinned verdict: KMV is pure
  // integer arithmetic over md5-derived hashes, so the oracle rebuilds
  // the identical bottom-k sets and the identical estimate — a drifted
  // merge or estimator changes est_milli and fails the hash directly.
  private val kmvJaccardSql =
    s"""WITH w AS (SELECT source, $sqlWords ws FROM documents),
       |s AS (SELECT DISTINCT source, h FROM (
       |    SELECT source, unnest(list_transform(
       |        list_transform(range(1, len(ws)-1),
       |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
       |        g -> ${sqlHash60("g")})) AS h
       |    FROM w WHERE len(ws) >= 3)),
       |km AS (SELECT source, list_sort(list(h)) kl FROM (
       |    SELECT source, h FROM s
       |    QUALIFY row_number() OVER (PARTITION BY source ORDER BY h)
       |      <= $KmvK) GROUP BY source),
       |cnt AS (SELECT source, CAST(count(*) AS BIGINT) n FROM s
       |        GROUP BY source),
       |c AS (SELECT km.source, km.kl, cnt.n FROM km
       |      JOIN cnt ON km.source = cnt.source),
       |i AS (SELECT a.source sa, b.source sb, CAST(count(*) AS BIGINT) xi
       |      FROM s a JOIN s b ON a.h = b.h AND a.source < b.source
       |      GROUP BY 1, 2),
       |p AS (SELECT x.source source_a, y.source source_b, x.n n_a, y.n n_b,
       |        list_slice(list_sort(list_distinct(list_concat(x.kl, y.kl))),
       |          1, $KmvK) u,
       |        list_intersect(x.kl, y.kl) xb
       |      FROM c x JOIN c y ON x.source < y.source),
       |e AS (SELECT source_a, source_b, n_a, n_b,
       |        CAST(len(u) AS BIGINT) kp,
       |        CAST(len(list_intersect(u, xb)) AS BIGINT) n_both
       |      FROM p)
       |SELECT source_a, source_b, n_a, n_b,
       |  coalesce(xi, 0) AS exact_inter,
       |  CAST((1000 * n_both) // kp AS BIGINT) AS est_milli,
       |  CAST((1000 * coalesce(xi, 0)) //
       |    (n_a + n_b - coalesce(xi, 0)) AS BIGINT) AS exact_milli,
       |  CAST(1 AS INTEGER) AS est_ok
       |FROM e LEFT JOIN i ON source_a = i.sa AND source_b = i.sb""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q151_kmv_jaccard" -> kmvJaccard,
    "q138_sketch_increment" -> sketchIncrement,
    "q134_sketch_union" -> sketchUnion)

  val oracle: Map[String, String] = Map(
    "q151_kmv_jaccard" -> kmvJaccardSql,
    "q138_sketch_increment" -> sketchIncrementSql,
    "q134_sketch_union" -> sketchUnionSql)
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.operators.Checkpoints._
import graft.sources.Tables

/** Duplicate-cluster CONSOLIDATION over q15's verified pair set —
  * connected components (unrolled q54 + converged q91 fixpoint),
  * keeper election (q165) and preference pairs (q176), soft-dedup
  * sampling weights (q191), dedup-co-located sharding (q202),
  * cross-modal agreement (q168), and the golden-record entity
  * resolution composition (q160). Split from `Dedup.scala` along the
  * candidate-generation / consolidation seam: candidates stay bucket
  * equi-joins there; everything here consumes the pair set (or its
  * checkpointed closure) and keys one bounded shuffle per stage off
  * it. Oracles splice `Dedup`'s fragments verbatim (the shared
  * `closureCte` is the q54 recursive-CTE discipline).
  */
object DedupClusters extends graft.Module {
  /** q54: duplicate CLUSTERS — connected components over the q15
    * MinHash near-dup pairs, the step a real dedup pipeline runs after
    * pair generation (pairs alone under-delete: near-dup similarity is
    * transitive in practice, so {a~b, b~c} must collapse to one keeper
    * even when (a,c) never collided in a band).
    *
    * Algorithm: min-label propagation on the PAIR GRAPH only — nodes
    * are the docs appearing in at least one pair (a tiny fraction of
    * the corpus at any scale), labels start as doc_id, and each round
    * every node takes the min of its own and its neighbors' labels.
    * [[ClusterRounds]] unrolled rounds converge for components of
    * diameter ≤ that bound (planted near-dup clusters are shallow —
    * sizes 2-3 at sf0.01; DedupSpec asserts fixpoint against a
    * union-find oracle). A production deployment loops the same two
    * operators to fixpoint with a driver-side convergence check; the
    * unroll keeps the query a single lazy plan per the driver contract.
    *
    * Scale shape: the expensive part (minhash pair-gen) is shared via
    * the checkpointed signature table; each round is one equi-join +
    * one min-aggregation over label rows, never touching full text.
    */
  val ClusterRounds = 6

  /** The undirected near-dup pair graph, checkpointed: 2 edge
    * directions × (rounds of joins + the node seed) all reuse it;
    * without it every round would re-run the whole minhash pipeline.
    */
  private def pairGraph(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashPairsCached(spark, dir)
      .select(col("doc_a"), col("doc_b")).cp()
    pairs.union(pairs.select(col("doc_b"), col("doc_a"))).toDF("src", "dst")
  }

  /** One min-label propagation round. Each round references the
    * previous labels twice (self ∪ messages) — without a per-round
    * checkpoint the lazy plan doubles every iteration (2^rounds
    * branches, hundreds of exchanges); the lazy checkpoint
    * materialises each round exactly once, the driver-loop structure a
    * production fixpoint iteration has anyway.
    */
  private def propagateBody(edges: DataFrame, labels: DataFrame): DataFrame = {
    val msgs = edges.join(labels, edges("src") === labels("node"))
      .select(edges("dst").as("node"), labels("label"))
    labels.union(msgs)
      .groupBy("node").agg(min("label").as("label"))
  }

  private def propagate(edges: DataFrame, labels: DataFrame): DataFrame =
    propagateBody(edges, labels).cpIter()

  /** Audit hook (see [[SimSearch.fixturePlans]]): the label-propagation
    * family's plans split at the iteration barrier — the pre-loop
    * pair/edge pipelines and ONE propagation round — because the
    * unrolled fixpoint cannot print un-truncated (the tree doubles
    * every round; see [[Checkpoints.CpOps.cpIter]]). Total loop cost =
    * the round row × rounds, over edge-sized inputs.
    */
  private[graft] def auditPlans(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = {
    val pg = pairGraph(spark, dir)
    val seed = pg.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    Seq(
      "q54/q91/q165:pair_graph" -> pg,
      "q160:name_edges" -> goldenEdges(goldenNames(spark, dir)),
      // round cost over materialized (truncated) inputs — the per-round
      // marginal work, not a re-print of the pair pipeline
      "fixpoint:propagate_round" -> propagateBody(pg.cpIter(), seed.cpIter()))
  }

  private def clusterOutput(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"),
        (col("node") === col("label")).as("is_canonical"))
  }

  /** Session-cached CONVERGED cluster table — the q34
    * trained-artifact discipline applied to the dedup closure: q54's
    * fixpoint is the shared root of seven consumers (q54 itself, the
    * q165 election, q176 pairs, q191 soft-dedup, q202 sharding, q242
    * drift, q244's gate), each of which used to re-run the whole
    * propagation per invocation — pure recompute at any scale, and
    * the dominant cost of the family's bench rows. Built once per
    * (application, sf dir), eagerly checkpointed; results are
    * bit-identical to per-query propagation (the training is
    * deterministic), so every oracle hash is unchanged. Keys include
    * the applicationId because checkpoint blocks die with the context
    * that built them.
    */
  private val clusterFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
  private val clusterLock = new Object

  SessionCaches.registerMap(clusterLock, clusterFixtures)

  /** The shared cluster closure, named for the bench's timed
    * `fixture:*` row (see [[Sink.fixtureBuilds]]). Building every
    * fixture BEFORE the query sweep is REQUIRED for bench correctness,
    * not just accounting — Bench unpersists private checkpoint blocks
    * after each timed query, and a shared fixture built lazily during
    * one looks private (its blocks would be dropped under every later
    * consumer).
    */
  override private[graft] val fixtureBuilds:
      Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "fixture:dup_clusters" ->
      ((s: SparkSession, d: String) => { dupClustersCached(s, d); () }))

  private[graft] def dupClustersCached(spark: SparkSession,
      dir: String): DataFrame =
    clusterLock.synchronized {
      import graft.operators.Checkpoints.CpOps
      val app = spark.sparkContext.applicationId
      SimSearch.evictStale(clusterFixtures, (k: (String, String)) => k._1, app)
      clusterFixtures.getOrElseUpdate((app, dir),
        dupClusters(spark, dir).cp(eager = true))
    }

  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val edges = pairGraph(spark, dir)
    val nodes = edges.select(col("src").as("node")).distinct()
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 1 to ClusterRounds) labels = propagate(edges, labels)
    // IN-PLAN convergence guard: run one more round and fail LOUDLY if
    // any label would still shrink — a component deeper than the
    // unroll must never silently ship wrong cluster ids. assert_true
    // feeds the output column, so it cannot be pruned away; when
    // converged it is null and coalesce passes the label through.
    val next = propagate(edges, labels)
    val guarded = labels
      .join(next.withColumnRenamed("label", "label_next"), "node")
      .select(col("node"),
        coalesce(
          assert_true(col("label") === col("label_next"),
            lit(s"q54: min-label propagation not converged after " +
              s"$ClusterRounds rounds — component diameter exceeds the " +
              "unroll; raise ClusterRounds or use dupClustersConverged"))
            .cast("long"),
          col("label")).as("label"))
    clusterOutput(guarded)
  }

  /** PRODUCTION fixpoint variant of [[dupClusters]]: propagate until
    * the label table stops changing, detected by a driver-side check
    * on a TINY aggregate — `sum(label)` is strictly decreasing until
    * fixpoint (every node's label is monotone non-increasing), so one
    * unchanged sum proves convergence. Fails loudly after `maxRounds`.
    * DedupSpec proves loop-until-converged ≡ the unrolled query.
    */
  def dupClustersConverged(spark: SparkSession, dir: String,
      maxRounds: Int = 64): DataFrame = {
    val edges = pairGraph(spark, dir)
    val nodes = edges.select(col("src").as("node")).distinct()
    var labels = nodes.withColumn("label", col("node"))
    def checksum(l: DataFrame): (Long, Long) = {
      // coalesce: an EMPTY label table (a corpus with zero near-dup
      // pairs) sums to null, which must read as the stable empty
      // checksum — not NPE — so the loop converges to an empty result
      // exactly like the unrolled q54 does on the same input
      val r = l.agg(coalesce(sum(col("label")), lit(0L)), count(lit(1)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var prev = (-1L, -1L)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      labels = propagate(edges, labels)
      val cur = checksum(labels)
      done = cur == prev
      prev = cur
      rounds += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"q54: label propagation did not converge within $maxRounds rounds")
    clusterOutput(labels)
  }

  /** q191: SOFT-DEDUP SAMPLING WEIGHTS — the SemDeDup/D4 move: instead
    * of DROPPING near-duplicates (q54 keeps one canonical doc per
    * cluster), keep every copy but weight each by 1/cluster_size, so
    * each distinct CONTENT contributes equal expected training mass
    * regardless of how many times the crawl caught it. Hard dedup
    * loses the (often useful) distributional signal of which
    * boilerplate variants exist; soft dedup keeps it while removing
    * the over-counting. Weights are integer milli (1000 DIV size —
    * the q122 sampler consumes them directly as rate buckets);
    * singletons — docs in no q15 candidate pair — weigh exactly 1000.
    * Cluster sizes come from the SAME q54 label propagation, so the
    * weights and the hard-dedup verdicts can never disagree on what a
    * cluster is.
    *
    * Scale: q54's checkpointed propagation (pair-graph sized), then
    * ONE left equi-join of the corpus against the label table — the
    * label side is bounded by the number of DUPLICATED docs, which can
    * be corpus-scale, so the plan correctly stays a shuffle join and
    * broadcasts only when statistics prove the label table small.
    */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(dupClustersCached(spark, dir)
        .select(col("doc_id"), col("cluster_size")), Seq("doc_id"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("weight_milli", expr("1000 DIV cluster_size"))

  /** q242: POST-DEDUP MIXTURE DRIFT — soft-dedup (q191) silently
    * changes the realized training mixture: sources whose content the
    * crawl caught many times lose effective token mass to the
    * 1/cluster_size downweight, so the shares a mixture plan (q63/
    * q157) targeted no longer hold AFTER dedup. This audit computes,
    * per source, the raw token mass, the effective (weight-applied)
    * milli-token mass, both as shares of their corpus totals, and the
    * corrective resampling factor (raw share over effective share,
    * milli) a mixture owner applies to restore the plan — the number
    * that decides whether dedup quietly starved a domain. Weights come
    * from the SAME q54 closure as q191 (the two can never disagree on
    * a cluster); token counts are the engine's whitespace convention.
    *
    * Scale: one corpus projection (doc_id, source, tokens) left-joined
    * to the pair-graph-sized label table — q191's exact join shape —
    * then a per-source aggregation with map-side partials; the totals
    * attach as a broadcast 1-row scalar. Output is |sources| rows.
    */
  def mixtureDrift(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("toks"))
      .join(dupClustersCached(spark, dir)
        .select(col("doc_id"), col("cluster_size")), Seq("doc_id"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("weight_milli", expr("1000 DIV cluster_size"))
      .groupBy(col("source"))
      .agg(sum(col("toks")).as("raw_tokens"),
        sum(col("toks") * col("weight_milli")).as("eff_token_milli"))
      .cp() // feeds the share computation and its own totals
    withScalar(per, per.agg(sum(col("raw_tokens")).as("tr"),
      sum(col("eff_token_milli")).as("te")))
      .withColumn("raw_share_milli", expr("(1000 * raw_tokens) DIV tr"))
      .withColumn("eff_share_milli",
        expr("(1000 * eff_token_milli) DIV nullif(te, 0)"))
      .withColumn("corr_milli",
        expr("(1000 * raw_share_milli) DIV nullif(eff_share_milli, 0)"))
      .select(col("source"), col("raw_tokens"), col("eff_token_milli"),
        col("raw_share_milli"), col("eff_share_milli"), col("corr_milli"))
  }

  /** q168: CROSS-MODAL DEDUP AGREEMENT — the corpus pairs documents
    * with embeddings by id (the caption↔vector convention of a
    * multimodal corpus), so q15's TEXT near-dup pairs and q18's
    * EMBEDDING near-dup pairs describe the same items through two
    * modalities. This audit full-outer-joins the two pair sets and
    * classifies each pair: `both` validates cheap text dedup against
    * the semantic signal, `text_only` is surface duplication the
    * embedding model separates (e.g. shared boilerplate), and
    * `embed_only` is the semantic-duplicate mass that text hashing
    * structurally cannot see — the number that decides whether a
    * deployment needs the expensive embedding pass at all. Both input
    * pair generators are the UNCHANGED q15/q18 operators (and the
    * oracle splices their standalone SQL verbatim), so this gate can
    * never drift from theirs.
    *
    * Scale: the pair sets are dedup outputs — orders smaller than the
    * corpus — and the audit is one full-outer merge join on the pair
    * key. Nothing here rescans documents or embeddings.
    */
  def modalAgreement(spark: SparkSession, dir: String): DataFrame = {
    val t = Dedup.minhashPairsCached(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1).as("text_dup"))
    val g = Dedup.dedupEmbed(spark, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
        lit(1).as("embed_dup"))
    t.join(g, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("text_dup"), lit(0)).as("text_dup"),
        coalesce(col("embed_dup"), lit(0)).as("embed_dup"))
      .withColumn("agreement",
        when(col("text_dup") === 1 && col("embed_dup") === 1, "both")
          .when(col("text_dup") === 1, "text_only")
          .otherwise("embed_only"))
  }

  /** q165: CLUSTER KEEPER ELECTION — which duplicate survives: q54
    * elects the MIN-ID member (a storage convention); a curation
    * pipeline keeps the BEST one. Per duplicate cluster (q54's label
    * propagation, unchanged), members are scored by the q157 lexical
    * diversity proxy and the (score DESC, doc_id ASC) argmax wins —
    * computed as a `max(struct(score, −doc_id))` aggregation, never a
    * per-cluster sort. Output is the replacement plan: keeper, its
    * score, and how many duplicates it retires — the table a dedup
    * executor joins against to rewrite the corpus.
    *
    * Scale: scoring is row-local; the election is ONE cluster-keyed
    * aggregation with map-side partials (the q99 bounded-state shape
    * at k = 1). A quality-classifier score swaps in for the proxy
    * without touching the plan.
    */
  def clusterElect(spark: SparkSession, dir: String): DataFrame =
    scoredClusterMembers(spark, dir)
      .groupBy(col("cluster_id"), col("cluster_size"))
      .agg(max(struct(col("score_milli"), (-col("doc_id")).as("nid")))
        .as("k"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("k.nid")).as("keeper_doc_id"),
        col("k.score_milli").as("keeper_score_milli"),
        (col("cluster_size") - 1).as("n_dropped"))

  /** Cluster members joined with their lexical-diversity scores — the
    * shared input of the q165 election and the q176 preference pairs:
    * q54's labels, [[graft.functions.Portable.scoreMilli]] per member
    * (docs with zero words carry no score and drop out, same as the
    * oracles' `len(ws) > 0` gate).
    */
  private def scoredClusterMembers(spark: SparkSession,
      dir: String): DataFrame = {
    val labs = dupClustersCached(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val scores = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), scoreMilli(col("ws")).as("score_milli"))
    labs.join(scores, "doc_id")
  }

  /** q176: PREFERENCE-PAIR CONSTRUCTION — alignment data from the
    * dedup byproduct: within each near-dup cluster the members are
    * variants of the same content at different quality, so (best,
    * worst) per cluster is a natural (chosen, rejected) preference
    * pair with a quality margin — the cheap seed corpus for a reward
    * model, mined from data the pipeline already computed. Chosen =
    * (score DESC, doc_id ASC) argmax, rejected = (score ASC, doc_id
    * DESC) argmin — deterministic and distinct whenever ≥ 2 members
    * carry scores (an all-tied cluster still yields min-id vs max-id).
    *
    * Scale: ONE cluster-keyed aggregation carrying two k=1 bounded
    * heaps (`max(struct)`/`min(struct)` with map-side partials) over
    * the pair-graph members only — a tiny fraction of any corpus. A
    * learned quality score swaps in for the proxy without touching
    * the plan (same discipline as q165).
    */
  def prefPairs(spark: SparkSession, dir: String): DataFrame =
    scoredClusterMembers(spark, dir)
      .groupBy(col("cluster_id"), col("cluster_size"))
      .agg(count(lit(1)).as("n_scored"),
        max(struct(col("score_milli"), (-col("doc_id")).as("nid")))
          .as("c"),
        min(struct(col("score_milli"), (-col("doc_id")).as("nid")))
          .as("r"))
      .filter(col("n_scored") >= 2)
      .select(col("cluster_id"), col("cluster_size"),
        (-col("c.nid")).as("chosen_doc_id"),
        col("c.score_milli").as("chosen_score_milli"),
        (-col("r.nid")).as("rejected_doc_id"),
        col("r.score_milli").as("rejected_score_milli"),
        (col("c.score_milli") - col("r.score_milli")).as("margin_milli"))

  /** q244: PREFERENCE-PAIR DECONTAMINATION — the alignment-data twin
    * of q235's release gate: preference pairs mined from the corpus
    * (q176) must not train on documents serving in the held-out eval
    * slate (q226), or the reward/DPO signal is graded on its own
    * training data. Every pair gets a verdict — `clean`,
    * `chosen_leak`, `rejected_leak`, or `both_leak` — naming WHICH
    * side leaked, because the remedies differ: a leaked CHOSEN doc
    * invalidates the pair outright, a leaked REJECTED doc can often be
    * re-mined against the next-worst cluster member. Both inputs are
    * the UNCHANGED q176/q226 operators (oracles splice their SQL
    * verbatim), so the gate can never drift from what it gates.
    *
    * Scale: the slate is quota-bounded (KB — q235's broadcast
    * discipline) and joins twice against the cluster-bounded pair set;
    * nothing rescans the corpus beyond what q176/q226 already do.
    */
  def prefDecontam(spark: SparkSession, dir: String): DataFrame = {
    val slate = Quality.evalSlateCached(spark, dir).select(col("doc_id")).cp()
    val c = slate.withColumnRenamed("doc_id", "chosen_doc_id")
      .withColumn("c_leak", lit(1))
    val r = slate.withColumnRenamed("doc_id", "rejected_doc_id")
      .withColumn("r_leak", lit(1))
    prefPairs(spark, dir)
      .join(broadcast(c), Seq("chosen_doc_id"), "left")
      .join(broadcast(r), Seq("rejected_doc_id"), "left")
      .select(col("cluster_id"), col("chosen_doc_id"),
        col("rejected_doc_id"), col("margin_milli"),
        when(col("c_leak").isNotNull && col("r_leak").isNotNull,
          "both_leak")
          .when(col("c_leak").isNotNull, "chosen_leak")
          .when(col("r_leak").isNotNull, "rejected_leak")
          .otherwise("clean").as("verdict"))
  }

  /** q160: GOLDEN-RECORD ENTITY RESOLUTION — the full MDM composition
    * the pieces q127/q54 each prove alone: fuzzy-match part names
    * (q127's blocked join, unchanged), close matches into entity
    * clusters (q54's min-label propagation with its loud convergence
    * guard, over name-hash nodes plus self-loops so singletons keep
    * their own label), elect a canonical name (lexicographic min per
    * cluster — deterministic, engine-independent), then SURVIVORSHIP:
    * merge every raw record of the entity into one golden row (modal
    * brand with (count, brand)-max tie-break, max price in exact
    * cents, size bounds, record/name counts). Names shorter than the
    * gram width are outside the q127 contract and stay unresolved by
    * design.
    *
    * Scale: candidate generation is q127's bucketed join; propagation
    * is per-round edge-sized equi-joins (q54's checkpointed shape);
    * survivorship is two keyed aggregations. The cluster graph is
    * vocabulary-sized — orders below the record corpus that references
    * it — so the whole resolution runs in the metadata tier, and the
    * record-side join is one broadcast of the name→canonical map.
    */
  /** q160's name universe and its fuzzy-pair edge graph — split out so
    * the audit can print the pre-fixpoint pipeline un-truncated.
    */
  private def goldenNames(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(col("p_name").as("name")).distinct()
      .filter(length(col("name")) >= Dedup.FuzzyQ)
      .cp() // feeds pairs, nodes, record join

  private def goldenEdges(names: DataFrame): DataFrame = {
    // names is goldenNames: already distinct, length-filtered and
    // checkpointed — go straight to the kernel
    val pairs = Dedup.fuzzyJoinNormalized(names).select(col("name_a"), col("name_b"))
    val e = pairs.select(hash60(col("name_a")).as("src"),
      hash60(col("name_b")).as("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .union(names.select(hash60(col("name")).as("src"),
        hash60(col("name")).as("dst")))
      .distinct().cp()
  }

  def goldenRecord(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
    val names = goldenNames(spark, dir)
    val edges = goldenEdges(names)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to ClusterRounds) labels = propagate(edges, labels)
    val next = propagate(edges, labels)
    val guarded = labels
      .join(next.withColumnRenamed("label", "label_next"), "node")
      .select(col("node"),
        coalesce(
          assert_true(col("label") === col("label_next"),
            lit(s"q160: name clustering not converged after " +
              s"$ClusterRounds rounds — raise ClusterRounds"))
            .cast("long"),
          col("label")).as("label"))
    val named = names.select(col("name"), hash60(col("name")).as("node"))
      .join(guarded, "node")
    val canon = named.groupBy(col("label"))
      .agg(min(col("name")).as("canonical"), count(lit(1)).as("n_names"))
    val recs = parts
      .join(broadcast(named.select(col("name").as("p_name"), col("label"))),
        "p_name")
      .join(broadcast(canon), "label")
    val brand = recs.groupBy(col("canonical"), col("p_brand"))
      .agg(count(lit(1)).as("bc"))
      .groupBy(col("canonical"))
      .agg(max(struct(col("bc"), col("p_brand"))).as("bw"))
      .select(col("canonical"), col("bw.p_brand").as("brand"))
    recs.groupBy(col("canonical"), col("n_names"))
      .agg(count(lit(1)).as("n_records"),
        max(expr("CAST(round(p_retailprice * 100, 0) AS BIGINT)"))
          .as("max_price_cents"),
        min(col("p_size")).as("min_size"), max(col("p_size")).as("max_size"))
      .join(brand, "canonical")
      .select(col("canonical"), col("n_names"), col("n_records"),
        col("brand"), col("max_price_cents"), col("min_size"),
        col("max_size"))
  }

  private val CshShards = 16L // q202 dedup-domain shard count

  /** q202: DEDUP-CO-LOCATED SHARDING — the layout that makes
    * distributed dedup embarrassingly parallel: each document's shard
    * is a salted hash of its q54 CLUSTER id (the closure's min-label;
    * docs outside every near-dup pair are singletons keyed by their
    * own id), so every near-duplicate cluster lands WHOLE in one
    * shard. A per-shard local dedup pass is then globally complete —
    * no cross-shard candidate can exist, because candidacy (the q15
    * band join) is exactly what defined the clusters. The spec pins
    * the property over the live pair set; [[CshShards]] is the toy
    * default (a cluster deployment shards to its executor count).
    *
    * Scale: the q54 closure's one label table left-joined onto the
    * corpus (doc-grain equi-join); the shard key is row-local. The
    * output is the partitioning a 100 TB dedup job repartitions by
    * ONCE, after which every pass is shard-local.
    */
  def clusterSharding(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(dupClustersCached(spark, dir).select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("shard", graft.functions.HashOps.md5_prefix60(
        concat(lit("csh:"), col("cluster_id").cast("string"))) % CshShards)

  /** Oracle: true connected components via a recursive CTE (reachable
    * min label), over the identical q15 pair set — so it also proves
    * the engine's fixed unroll reached the fixpoint.
    */
  // shared closure prefix (q54/q91 AND q165): true connected
  // components via recursive CTE over the identical q15 pair set
  private val closureCte =
    // stripMargin BEFORE substituting: Dedup.minhashSql contains lines whose
    // first non-blank chars are a `||` concat, which an outer
    // stripMargin would truncate to `|`
    """WITH RECURSIVE
       |pr AS (SELECT doc_a, doc_b FROM (@PAIRS@)),
       |e AS (SELECT doc_a s, doc_b d FROM pr
       |      UNION ALL SELECT doc_b, doc_a FROM pr),
       |n AS (SELECT DISTINCT s AS node FROM e),
       |reach(node, label) AS (
       |  SELECT node, node FROM n
       |  UNION
       |  SELECT e.d, r.label FROM reach r JOIN e ON e.s = r.node),
       |lab AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
       |sz AS (SELECT cluster_id, count(*) cnt FROM lab GROUP BY cluster_id)""".stripMargin
      .replace("@PAIRS@", Dedup.minhashSql)

  // both pair generators spliced VERBATIM from their standalone
  // oracles (stripMargin'd before substitution, see closureCte).
  // LAZY: Dedup.embedSql is declared further down; a strict val here would
  // splice null at object init
  private lazy val modalAgreementSql =
    """WITH tp AS (SELECT doc_a, doc_b FROM (@TEXT@)),
      |gp AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM (@EMBED@)),
      |u AS (SELECT coalesce(tp.doc_a, gp.doc_a) AS doc_a,
      |        coalesce(tp.doc_b, gp.doc_b) AS doc_b,
      |        CAST(CASE WHEN tp.doc_a IS NULL THEN 0 ELSE 1 END AS INTEGER)
      |          AS text_dup,
      |        CAST(CASE WHEN gp.doc_a IS NULL THEN 0 ELSE 1 END AS INTEGER)
      |          AS embed_dup
      |      FROM tp FULL OUTER JOIN gp
      |        ON tp.doc_a = gp.doc_a AND tp.doc_b = gp.doc_b)
      |SELECT doc_a, doc_b, text_dup, embed_dup,
      |  CASE WHEN text_dup = 1 AND embed_dup = 1 THEN 'both'
      |       WHEN text_dup = 1 THEN 'text_only'
      |       ELSE 'embed_only' END AS agreement
      |FROM u""".stripMargin
      .replace("@TEXT@", Dedup.minhashSql)
      .replace("@EMBED@", Dedup.embedSql)

  // tails stripMargin'd SEPARATELY, then concatenated — an outer
  // stripMargin over the substituted closureCte would truncate
  // Dedup.minhashSql's `||` continuation lines to `|`
  private val clustersSql = closureCte + "\n" +
    """SELECT lab.node AS doc_id, lab.cluster_id,
      |       CAST(sz.cnt AS BIGINT) AS cluster_size,
      |       (lab.node = lab.cluster_id) AS is_canonical
      |FROM lab JOIN sz USING (cluster_id)""".stripMargin

  // q191: the q54 closure's cluster sizes left-joined onto the whole
  // corpus; docs outside every pair are singletons of size 1
  private val softDedupSql = closureCte + "\n" +
    """SELECT d.doc_id, d.source,
      |       CAST(coalesce(sz.cnt, 1) AS BIGINT) AS cluster_size,
      |       1000 // CAST(coalesce(sz.cnt, 1) AS BIGINT) AS weight_milli
      |FROM documents d
      |LEFT JOIN lab ON lab.node = d.doc_id
      |LEFT JOIN sz ON sz.cluster_id = lab.cluster_id""".stripMargin

  // q242: q191's weights with token counts in the same pass, folded
  // to per-source mass; shares and the correction factor nest the
  // exact DIV chain the Spark frame computes
  private val mixtureDriftSql = closureCte + ",\n" +
    s"""w AS (SELECT d.doc_id, d.source,
       |        1000 // CAST(coalesce(sz.cnt, 1) AS BIGINT) AS weight_milli,
       |        CAST(len($sqlWords) AS BIGINT) AS toks
       |      FROM documents d
       |      LEFT JOIN lab ON lab.node = d.doc_id
       |      LEFT JOIN sz ON sz.cluster_id = lab.cluster_id),
       |p AS (SELECT source, CAST(sum(toks) AS BIGINT) raw_tokens,
       |        CAST(sum(toks * weight_milli) AS BIGINT) eff_token_milli
       |      FROM w GROUP BY source),
       |s AS (SELECT CAST(sum(raw_tokens) AS BIGINT) tr,
       |        CAST(sum(eff_token_milli) AS BIGINT) te FROM p),
       |r AS (SELECT source, raw_tokens, eff_token_milli,
       |        (1000 * raw_tokens) // tr AS raw_share_milli,
       |        (1000 * eff_token_milli) // nullif(te, 0) AS eff_share_milli
       |      FROM p, s)
       |SELECT source, raw_tokens, eff_token_milli, raw_share_milli,
       |  eff_share_milli,
       |  (1000 * raw_share_milli) // nullif(eff_share_milli, 0) AS corr_milli
       |FROM r""".stripMargin

  // q202: the q54 closure's labels onto the whole corpus (q191's
  // singleton convention), shard = salted hash of the cluster id
  private val clusterShardingSql = closureCte + "\n" +
    s"""SELECT d.doc_id,
       |  coalesce(lab.cluster_id, d.doc_id) AS cluster_id,
       |  ${graft.functions.Portable.sqlHash60(
            "'csh:' || CAST(coalesce(lab.cluster_id, d.doc_id) AS VARCHAR)")}
       |    % $CshShards AS shard
       |FROM documents d LEFT JOIN lab ON lab.node = d.doc_id""".stripMargin

  // q54's closure + the q157 diversity score + a rank-1 election —
  // keeper by QUALITY, not by min id
  // scored cluster members (q165 AND q176 — the SQL twin of
  // scoredClusterMembers): q54's closure + the q157 diversity score
  private val scoredMembersCte =
    s"""s AS (SELECT doc_id,
       |        CAST((1000 * len(list_distinct(ws))) // len(ws) AS BIGINT)
       |          score_milli
       |      FROM (SELECT doc_id, $sqlWords ws FROM documents)
       |      WHERE len(ws) > 0),
       |j AS (SELECT lab.node AS doc_id, lab.cluster_id,
       |        CAST(sz.cnt AS BIGINT) AS cluster_size, s.score_milli
       |      FROM lab JOIN sz USING (cluster_id)
       |      JOIN s ON s.doc_id = lab.node)""".stripMargin

  private val clusterElectSql = closureCte + ",\n" + scoredMembersCte +
    ",\n" +
    """k AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
      |        ORDER BY score_milli DESC, doc_id ASC) rn FROM j)
      |SELECT cluster_id, cluster_size, doc_id AS keeper_doc_id,
      |  score_milli AS keeper_score_milli,
      |  CAST(cluster_size - 1 AS BIGINT) AS n_dropped
      |FROM k WHERE rn = 1""".stripMargin

  // q176: both rank-1 elections over the same scored members, glued by
  // cluster — chosen (score DESC, id ASC), rejected (score ASC, id
  // DESC), clusters with ≥ 2 scored members only
  private val prefPairsSql = closureCte + ",\n" + scoredMembersCte +
    ",\n" +
    """k AS (SELECT *,
      |        row_number() OVER (PARTITION BY cluster_id
      |          ORDER BY score_milli DESC, doc_id ASC) rc,
      |        row_number() OVER (PARTITION BY cluster_id
      |          ORDER BY score_milli ASC, doc_id DESC) rr,
      |        count(*) OVER (PARTITION BY cluster_id) ns FROM j)
      |SELECT c.cluster_id, c.cluster_size,
      |  c.doc_id AS chosen_doc_id, c.score_milli AS chosen_score_milli,
      |  r.doc_id AS rejected_doc_id, r.score_milli AS rejected_score_milli,
      |  c.score_milli - r.score_milli AS margin_milli
      |FROM k c JOIN k r ON c.cluster_id = r.cluster_id
      |WHERE c.rc = 1 AND r.rr = 1 AND c.ns >= 2""".stripMargin

  // q244: the q176 pair CTEs + the q226 slate (spliced verbatim) +
  // two bounded left joins naming which side leaked
  private lazy val prefDecontamSql = closureCte + ",\n" + scoredMembersCte +
    ",\n" +
    """k AS (SELECT *,
      |        row_number() OVER (PARTITION BY cluster_id
      |          ORDER BY score_milli DESC, doc_id ASC) rc,
      |        row_number() OVER (PARTITION BY cluster_id
      |          ORDER BY score_milli ASC, doc_id DESC) rr,
      |        count(*) OVER (PARTITION BY cluster_id) ns FROM j),
      |pp AS (SELECT c.cluster_id,
      |        c.doc_id AS chosen_doc_id, r.doc_id AS rejected_doc_id,
      |        c.score_milli - r.score_milli AS margin_milli
      |      FROM k c JOIN k r ON c.cluster_id = r.cluster_id
      |      WHERE c.rc = 1 AND r.rr = 1 AND c.ns >= 2),
      |sl AS (SELECT doc_id FROM (@SLATE@))
      |SELECT pp.cluster_id, pp.chosen_doc_id, pp.rejected_doc_id,
      |  pp.margin_milli,
      |  CASE WHEN sc.doc_id IS NOT NULL AND sr.doc_id IS NOT NULL
      |         THEN 'both_leak'
      |       WHEN sc.doc_id IS NOT NULL THEN 'chosen_leak'
      |       WHEN sr.doc_id IS NOT NULL THEN 'rejected_leak'
      |       ELSE 'clean' END AS verdict
      |FROM pp
      |LEFT JOIN sl sc ON sc.doc_id = pp.chosen_doc_id
      |LEFT JOIN sl sr ON sr.doc_id = pp.rejected_doc_id""".stripMargin
      .replace("@SLATE@", Quality.evalSlateSql)

  // q127's brute pairs (verbatim), a recursive-CTE closure (the q54
  // oracle discipline), then canonical election + survivorship — the
  // composed gate reuses each part's standalone oracle so they cannot
  // drift
  private val goldenRecordSql =
    s"""WITH RECURSIVE
       |p AS (SELECT name_a, name_b FROM (@FUZZY@)),
       |nm AS (SELECT DISTINCT p_name AS name FROM part
       |       WHERE len(p_name) >= ${Dedup.FuzzyQ}),
       |e AS (SELECT name_a s, name_b d FROM p
       |      UNION ALL SELECT name_b, name_a FROM p),
       |reach(node, label) AS (
       |  SELECT name, name FROM nm
       |  UNION
       |  SELECT e.d, r.label FROM reach r JOIN e ON e.s = r.node),
       |lab AS (SELECT node, min(label) lbl FROM reach GROUP BY node),
       |canon AS (SELECT lbl, min(node) AS canonical,
       |          CAST(count(*) AS BIGINT) AS n_names FROM lab GROUP BY lbl),
       |r AS (SELECT pr.*, c.canonical, c.n_names FROM part pr
       |      JOIN lab ON pr.p_name = lab.node
       |      JOIN canon c ON lab.lbl = c.lbl),
       |br AS (SELECT canonical, p_brand, count(*) bc FROM r GROUP BY 1, 2),
       |bw AS (SELECT canonical, p_brand AS brand FROM (
       |    SELECT *, row_number() OVER (PARTITION BY canonical
       |      ORDER BY bc DESC, p_brand DESC) rn FROM br) WHERE rn = 1),
       |agg AS (SELECT canonical, n_names, CAST(count(*) AS BIGINT) n_records,
       |    max(CAST(round(p_retailprice * 100, 0) AS BIGINT)) max_price_cents,
       |    min(p_size) min_size, max(p_size) max_size
       |  FROM r GROUP BY 1, 2)
       |SELECT agg.canonical, agg.n_names, agg.n_records, bw.brand,
       |  agg.max_price_cents, agg.min_size, agg.max_size
       |FROM agg JOIN bw USING (canonical)""".stripMargin
      .replace("@FUZZY@", Dedup.fuzzyJoinSql)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q168_modal_agreement" -> modalAgreement,
    "q176_pref_pairs" -> prefPairs,
    "q244_pref_decontam" -> prefDecontam,
    "q165_cluster_elect" -> clusterElect,
    "q160_golden_record" -> goldenRecord,
    "q191_soft_dedup" -> softDedupWeights,
    "q242_mixture_drift" -> mixtureDrift,
    "q202_cluster_sharding" -> clusterSharding,
    "q54_dup_clusters" ->
      ((s: SparkSession, d: String) => dupClustersCached(s, d)),
    // the PRODUCTION fixpoint path, driver-hash-checked against the
    // same recursive-CTE oracle as the unrolled q54
    "q91_clusters_converged" ->
      ((s: SparkSession, d: String) => dupClustersConverged(s, d)))

  val oracle: Map[String, String] = Map(
    "q168_modal_agreement" -> modalAgreementSql,
    "q165_cluster_elect" -> clusterElectSql,
    "q176_pref_pairs" -> prefPairsSql,
    "q244_pref_decontam" -> prefDecontamSql,
    "q160_golden_record" -> goldenRecordSql,
    "q191_soft_dedup" -> softDedupSql,
    "q242_mixture_drift" -> mixtureDriftSql,
    "q202_cluster_sharding" -> clusterShardingSql,
    "q54_dup_clusters" -> clustersSql,
    "q91_clusters_converged" -> clustersSql)
}

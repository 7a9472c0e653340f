package graft

/** Queries that execute work at CONSTRUCTION time — ANY Spark job run
  * while the query frame is built counts: streaming runs, sink/fixture
  * writes, conf-scoped eager checkpoints, convergence loops, and
  * driver-side calibration collects (q173's DIM-row calibration). The
  * returned frame replays or consumes the materialized result, so
  * post-hoc plan inspection sees only the post-build frame. ScaleAudit
  * tags the rows as post-build frames (and counts them in NORMAL mode —
  * their fixpoint loops rely on lazy-checkpoint truncation), and Bench
  * gives them a third run (construction re-executes per run for the
  * streaming/collect members, and the fixture members' first run
  * absorbs the build, leaving only one clean sample out of two). ONE
  * list, so a new on-build query cannot be registered with one
  * consumer and forgotten by the others.
  *
  * MEASURED, not maintained by hand: `QueryBuildTraitSpec` constructs
  * every registry query under a SparkListener job counter — once in
  * sorted order with shared session caches, then, for queries that ran
  * nothing, once more IN ISOLATION (caches restored to the
  * post-prelude state, so a fixture an alphabetically-earlier peer
  * shares cannot hide a query's own build work) — and asserts
  * membership ⟺ jobs-ran-at-build in BOTH directions. The prelude
  * (what construction work does NOT count) is the shared-artifact
  * boundary: testdata schema inference and the [[Modules.all]]
  * fixture builds except Sink's and Relational's (trained
  * centroids/codebooks, MinHash pairs, cluster closure, eval slate,
  * fusion pools, trained classifier weights, the ingest loop's side
  * inputs) — the amortized session inputs Bench also builds before
  * the query sweep, as its `fixture:*` rows (building them there is
  * REQUIRED: Bench drops private checkpoint blocks after each timed
  * query, and a shared fixture built lazily during one would be
  * unpersisted under every later consumer). Editing this
  * list without measurement fails that spec; so does shipping a new
  * on-build query without listing it.
  */
object QueryTraits {
  val executesOnBuild: Set[String] = Set(
    "q101_feature_ttl",
    "q102_stream_outer_join",
    "q103_vacuum_read",
    "q104_stream_static_join",
    "q107_stream_window_final",
    "q109_schema_evolution",
    "q111_partition_evolution",
    "q112_aqe_skew_join",
    "q113_stream_upsert",
    "q117_stream_sliding",
    "q120_bloom_join",
    "q130_stream_topk",
    "q131_recent_buffer",
    "q138_sketch_increment",
    "q140_nightly_drop",
    "q141_chained_windows",
    "q147_quantile_sketch",
    "q148_erasure",
    "q149_pagerank",
    "q150_triangles",
    "q153_size_tiered",
    "q156_leveled_plan",
    "q160_golden_record",
    "q162_stream_join_window",
    "q163_stream_sketch_ledger",
    "q171_export_sink",
    "q173_int8_quant",
    "q174_stream_export",
    "q181_twcs_plan",
    "q189_hot_window_read",
    "q196_version_pin",
    "q199_export_balance",
    "q204_version_delta",
    "q206_ttl_expire",
    "q207_window_compact",
    "q208_stream_curate",
    "q212_packed_release",
    "q213_packed_erasure",
    "q215_stream_index_ingest",
    "q217_lsh_index_probe",
    "q223_sliced_read",
    "q228_bpe_train",
    "q230_bloom_get",
    "q232_heldout_audit",
    "q233_leveled_compact",
    "q235_release_decontam",
    "q237_tombstone_erase",
    "q238_tombstone_purge",
    "q239_frame_seek",
    "q245_icp_release",
    "q246_shipped_coherence",
    "q251_salvage_scan",
    "q253_stream_model_gate",
    "q255_stream_neardup",
    "q28_stream_window",
    "q29_sink_roundtrip",
    "q30_proto_source",
    "q31_stream_sessionize",
    "q36_noshuffle_stats",
    "q37_stream_sink",
    "q43_stream_dedup",
    "q44_bucketed_join",
    "q46_key_pushdown",
    "q47_per_file_metrics",
    "q48_stream_proto_source",
    "q60_file_skip",
    "q61_compact_sink",
    "q62_bucketed_stats",
    "q64_sidecar_stats",
    "q65_runtime_prune",
    "q69_stream_stream_join",
    "q76_stream_funnel",
    "q77_optimize_sink",
    "q79_secondary_index",
    "q80_asof_read",
    "q81_change_feed",
    "q84_stream_dedup_ttl",
    "q89_ordered_reexport",
    "q91_clusters_converged",
    "q98_stream_features")
}

package graft

import graft.queries.{Fixtures, QueryRegistry, QuerySpec}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The declared-query registry: the names it declares, the oracle SQL
  * beside every body, and the scratch and fixture roots it owns. */
class QueryRegistrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** The oracle-graded contract: every name `Verify` dumps and the
    * DuckDB check compares. */
  private val declared = Seq(
    "cap_agg_pushdown", "cap_cube", "cap_dpp", "cap_events_hourly",
    "cap_funnel", "cap_gapfill", "cap_grouping_sets", "cap_hof_arrays",
    "cap_join_family", "cap_json", "cap_lag_lead", "cap_pivot",
    "cap_rank_family", "cap_recursive", "cap_rolling", "cap_rolling_epochs",
    "cap_rollup", "cap_segment_revenue", "cap_setops", "cap_sliding",
    "cap_sql_pipe", "cap_subqueries", "cap_top_orders", "cap_unpivot",
    "cap_variant", "d1_ranged_extract", "d2_min_boundary",
    "d3_max_boundary_int", "d4_sk_hyphen", "d4b_sk_plain_null",
    "d5_dedup_deterministic", "d6_quality_repair", "d7_promote", "d8_merge",
    "d9_chunk_invariance", "ext_ann_bruteforce", "ext_ann_ivf",
    "ext_ann_ivf_bound", "ext_ann_ivf_indexed", "ext_ann_ivf_indexed_bound",
    "ext_ann_ivf_indexed_compact_recover", "ext_ann_ivf_indexed_delta",
    "ext_ann_ivf_indexed_publish_recover", "ext_ann_ivf_indexed_purge",
    "ext_ann_ivf_indexed_recover", "ext_ann_ivf_indexed_refs",
    "ext_ann_ivf_indexed_replay_recover", "ext_ann_ivf_indexed_salted",
    "ext_ann_ivf_indexed_snapshot", "ext_ann_ivf_refs_clustered",
    "ext_ann_lsh", "ext_ann_lsh_bound", "ext_ann_lsh_indexed",
    "ext_ann_lsh_indexed_bound", "ext_ann_lsh_indexed_compact_recover",
    "ext_ann_lsh_indexed_delta", "ext_ann_lsh_indexed_publish_recover",
    "ext_ann_lsh_indexed_recover", "ext_ann_lsh_indexed_refs",
    "ext_ann_lsh_indexed_snapshot", "ext_ann_lsh_refs_clustered",
    "ext_ann_pq", "ext_ann_pq_bound", "ext_ann_pq_indexed",
    "ext_ann_pq_indexed_bound", "ext_ann_pq_indexed_compact_recover",
    "ext_ann_pq_indexed_delta", "ext_ann_pq_indexed_publish_recover",
    "ext_ann_pq_indexed_recover", "ext_ann_pq_indexed_snapshot",
    "ext_asof_join", "ext_asof_join_epochs", "ext_asof_native",
    "ext_bloom_join", "ext_bm25_indexed", "ext_bm25_indexed_snapshot",
    "ext_bm25_pruned", "ext_bm25_stats", "ext_bpe_encode", "ext_bpe_pairs",
    "ext_cdc_apply", "ext_cdc_feed", "ext_chunk_documents",
    "ext_corpus_stats", "ext_countmin", "ext_csv_roundtrip",
    "ext_decontaminate", "ext_dedup_audio", "ext_dedup_audio_clusters",
    "ext_dedup_audio_delta", "ext_dedup_clusters", "ext_dedup_clusters_star",
    "ext_dedup_edit", "ext_dedup_edit_clusters", "ext_dedup_embedding",
    "ext_dedup_embedding_delta", "ext_dedup_embedding_lsh",
    "ext_dedup_exact", "ext_dedup_exact_delta", "ext_dedup_exact_salted",
    "ext_dedup_images", "ext_dedup_images_delta", "ext_dedup_minhash",
    "ext_dedup_minhash_delta", "ext_dedup_ngram", "ext_dedup_simhash",
    "ext_distinct_kmv", "ext_distinct_theta", "ext_encode_ids", "ext_expect",
    "ext_expect_rows", "ext_heavy_hitters", "ext_heavy_hitters_bound",
    "ext_histogram", "ext_interval_join", "ext_inverted_phrase_pos",
    "ext_inverted_search", "ext_ivm_cube", "ext_ivm_distinct",
    "ext_ivm_full_join", "ext_ivm_join", "ext_ivm_join_agg",
    "ext_ivm_left_join", "ext_ivm_maintain", "ext_ivm_median",
    "ext_ivm_minmax", "ext_ivm_spja", "ext_ivm_topk", "ext_join_elim",
    "ext_jsonl_roundtrip", "ext_lang_id", "ext_lm_bigram",
    "ext_merge_evolve", "ext_merge_timetravel", "ext_mix_sources",
    "ext_multimodal_audio", "ext_multimodal_frames",
    "ext_multimodal_headers", "ext_multimodal_meta", "ext_mv_rewrite",
    "ext_mv_rewrite_avg", "ext_mv_rewrite_cube", "ext_mv_rewrite_distinct",
    "ext_mv_rewrite_extrema", "ext_mv_rewrite_join",
    "ext_mv_rewrite_left_join", "ext_mv_rewrite_spja", "ext_orc_roundtrip",
    "ext_outlier_docs", "ext_pack_sequences", "ext_profile",
    "ext_quality_classifier", "ext_quantiles", "ext_quantiles_bound",
    "ext_range_join", "ext_scd2", "ext_scd2_enrich", "ext_scd2_epochs",
    "ext_sessionize", "ext_sessionize_epochs", "ext_span_dedup",
    "ext_split_assign", "ext_stratified_sample", "ext_stream_dedup",
    "ext_stream_hourly", "ext_stream_join", "ext_stream_sessions",
    "ext_stream_state", "ext_temp_resample", "ext_text_boilerplate",
    "ext_text_filter", "ext_text_quality", "ext_text_repetition",
    "ext_text_scrub", "ext_text_stats", "ext_text_top_terms",
    "ext_text_vocab", "ext_weighted_sample", "ext_zstd_roundtrip",
    "flow_bucketed_join", "flow_compact_zorder", "flow_merge_zorder",
    "flow_multi_commit", "flow_partitioned_apply", "flow_purge",
    "flow_purge_trusted", "flow_quarantine", "flow_retention",
    "flow_stats_prune", "flow_stream_cdc_apply", "flow_stream_cdc_ivm",
    "flow_stream_compact", "flow_stream_extrema", "flow_stream_index",
    "flow_stream_ingest", "flow_stream_ivf", "flow_stream_ivf_replay",
    "flow_stream_ivm", "flow_stream_join_ivm", "flow_stream_lsh",
    "flow_stream_merge", "flow_stream_mv", "flow_stream_pq",
    "flow_stream_quarantine", "flow_zstd_graduate")

  test("names are unique and exactly the declared 205") {
    val names = QueryRegistry.specs.map(_.name)
    assert(names.distinct.size === names.size)
    assert(declared.size === 205)
    assert(QueryRegistry.names === declared.sorted)
  }

  test("every spec carries non-empty oracle SQL") {
    val empty = QueryRegistry.specs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, empty.mkString(", "))
  }

  test("a plain query's DataFrame comes back untouched") {
    val df = Fixtures.tbl(spark, sf, "orders")
    assert(QuerySpec("plain", (_, _) => df, "SELECT 1").run(spark, sf) eq df)
  }

  test("a scratch root is detached from and removed after the body returns") {
    var root: String = null
    val out = QuerySpec.scratch("registry_ok", (s, dir, r) => {
      root = r
      Fixtures.tbl(s, dir, "orders").select("o_orderkey").write.parquet(s"$r/t")
      s.read.parquet(s"$r/t").where(col("o_orderkey") % 2 === 0)
    }, "SELECT 1").run(spark, sf)
    assert(!Files.exists(Paths.get(root)), s"$root left behind")
    // detached: the rows outlive the files they were read from
    assert(out.count() === Fixtures.tbl(spark, sf, "orders")
      .where(col("o_orderkey") % 2 === 0).count())
  }

  test("a body's own local checkpoint is kept, not taken twice") {
    val own = Fixtures.tbl(spark, sf, "orders").localCheckpoint(true)
    assert(QuerySpec.scratch("registry_own", (_, _, _) => own, "SELECT 1")
      .run(spark, sf) eq own)
  }

  test("a body that throws after taking a scratch root leaves no root behind") {
    var root: String = null
    val q = QuerySpec.scratch("registry_throws", (s, dir, r) => {
      root = r
      Fixtures.tbl(s, dir, "orders").write.parquet(s"$r/half-done")
      throw new IllegalStateException("body failed")
    }, "SELECT 1")
    val e = intercept[IllegalStateException](q.run(spark, sf))
    assert(e.getMessage === "body failed")
    assert(root != null && !Files.exists(Paths.get(root)), s"$root left behind")
  }

  test("fixture memos write only under the Fixtures root") {
    val root = Fixtures.root.toString
    val key = s"$sf|registry-spec-${System.nanoTime()}"
    val built = Fixtures.memoFixture(key) { p =>
      Fixtures.tbl(spark, sf, "orders").limit(3).write.parquet(p)
    }
    assert(built.startsWith(root + "/"), built)
    assert(Fixtures.memoFixture(key)(_ => fail("memo rebuilt")) === built)
    val landing = Fixtures.landingFor(spark, sf, "customer", 2)
    assert(landing.startsWith(root + "/"), landing)
    val dest = SparkTestSession.tmp("registry-corpus").toString + "/corpus"
    val tag = s"registry-spec-${System.nanoTime()}"
    try {
      Fixtures.stagedCorpus(spark, sf, tag, dest) { p =>
        Fixtures.tbl(spark, sf, "orders").limit(3).write.parquet(p)
      }
      // the consumer gets its own copy; the staged source sits under the root
      assert(spark.read.parquet(dest).count() === 3)
      val source = Fixtures.memoFixture(s"$sf|corpus|$tag")(_ => fail("corpus restaged"))
      assert(source.startsWith(root + "/"), source)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dest).getParentFile)
    val dedup = Fixtures.dedupBaseM(spark, sf).inputFiles
    assert(dedup.nonEmpty && dedup.forall(_.contains(root + "/")), dedup.mkString(", "))
  }
}

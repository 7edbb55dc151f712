package graft

import org.apache.spark.sql.graftbridge.Bridge

import graft.ops.withPersisted

/** Cached data has one owner: an op persists a relation only for the scope
  * that reads it ([[graft.ops.withPersisted]]), and a relation it hands
  * back is a checkpoint, never a CacheManager entry. So no gate, once
  * forced, leaves anything cached in a long-lived session.
  */
class CacheOwnershipSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def cached(): Int = Bridge.cachedEntries(spark)

  /** Every gate whose code path persists, checkpoints or caches a relation
    * of its own (the ops and the gate-level working sets). */
  private val gates = Seq(
    // Graph
    "q112_pagerank", "q245_label_propagation", "q259_lp_converge",
    "q118_triangle_census", "q216_common_neighbors", "q223_kcore",
    // Dedup
    "q55_dedup_clusters", "q69_dedup_clusters_blocked",
    "q140_cluster_safe_split", "q154_keep_best_in_cluster",
    "q178_prefix_jaccard_join", "q241_capped_exact_pairs",
    "q190_lsh_recall_audit", "q236_source_overlap",
    // Similarity
    "q91_kmeans_fit", "q189_cluster_quality", "q100_kmeans_blocked_neardup",
    "q265_semdedup", "q210_pq_adc_topk", "q211_pq_recall_audit",
    "q238_truncation_recall",
    // TextAnalysis, Fuzzy, EventAnalytics
    "q117_bpe_train", "q124_bpe_encode", "q209_tokenizer_fertility",
    "q191_char_ngram_langid", "q183_sorted_neighborhood_pairs", "q115_funnel",
    // gate-level working sets
    "q200_curation_pipeline_full", "q256_sequential_admission",
    "q270_census_growth", "q277_semdedup_admission", "q280_dsir_selection",
    // streaming admission against a frozen index
    "q248_streaming_index_admission", "q267_streaming_census_admission",
    "q271_streaming_census_growth", "q278_streaming_semdedup_admission",
    "q283_streaming_dsir_admission", "q285_streaming_substring_screen")

  gates.foreach { g =>
    test(s"$g leaves no cached relation once forced") {
      SparkEntry.queries(g)(spark, sf).write.format("noop").mode("overwrite").save()
      assert(cached() == 0, s"$g left ${cached()} CacheManager entries")
    }
  }

  test("a body that throws inside withPersisted leaves nothing cached") {
    val e = intercept[IllegalStateException] {
      withPersisted(spark.range(100).toDF("x")) { p =>
        assert(p.count() == 100L)
        assert(cached() == 1)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(cached() == 0)
  }
}

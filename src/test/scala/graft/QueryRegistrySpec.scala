package graft

import graft.QuerySpec._
import org.scalatest.funsuite.AnyFunSuite

/** The query registry declares every query once. These counts and names
  * pin what the harnesses read from it, so a lost or duplicated entry,
  * oracle or tag fails here instead of silently shrinking a gate. */
class QueryRegistrySpec extends AnyFunSuite {
  private val registry = SparkEntry.registry

  test("274 queries, each name declared once; queries is derived from them") {
    assert(registry.size == 274)
    assert(SparkEntry.byName.size == 274)
    assert(SparkEntry.queries.keySet == registry.map(_.name).toSet)
  }

  test("270 queries carry an oracle; exactly 4 do not") {
    assert(registry.count(_.oracleSql.isDefined) == 270)
    assert(registry.filter(_.oracleSql.isEmpty).map(_.name).sorted == Seq(
      "match_features", "multimodal_audio", "multimodal_decode",
      "profile_documents"))
    val sql = SparkEntry.oracleSql
    assert(sql.size == 270 && sql.values.forall(_.nonEmpty))
  }

  test("32 build-then-serve queries; buildServe is derived from them") {
    val served = registry.filter(_.build.isDefined).map(_.name).toSet
    assert(served.size == 32)
    assert(SparkEntry.buildServe.keySet == served)
  }

  test("Bench's 8 exact baselines") {
    assert(registry.filter(_.tags(ExactBaseline)).map(_.name).sorted == Seq(
      "ann_pq_topk", "ann_quantized_topk", "ann_topk",
      "embedding_cosine_pairs", "pq_recall", "pq_recall_trained",
      "pq_rerank_recall", "quantization_recall"))
  }

  test("the soak ladder: 108 rows, 92 whole queries, 16 serve-only, 8 digested") {
    val ladder = ScaleSoak.ladder
    assert(ladder.size == 108)
    assert(ladder.map(_.name).distinct.size == 108)
    assert(ladder.filterNot(_.serveOnly).map(_.name).sorted == Seq(
      "ann_hard_negatives", "ann_ivf_pq_topk", "ann_ivf_sq8_topk",
      "ann_ivf_topk", "ann_lsh_pairs", "ann_opq_topk", "ann_pq_topk",
      "ann_production_topk", "ann_quantized_topk",
      "approx_quantile_incremental", "approx_quantile_scores",
      "bm25_search", "bpe_byte_encode", "bpe_byte_pretok_encode",
      "bpe_encode", "bpe_train_merges", "c4_line_filter",
      "ccnet_lang_triage", "classify_lang_nb",
      "classify_lang_nb_hashed", "classify_langid_lr",
      "classify_quality_lr", "corpus_pipeline",
      "corpus_pipeline_curated", "corpus_pipeline_semantic",
      "corpus_release", "corpus_release_manifest",
      "corpus_release_sequences", "curate_domain_filter",
      "curate_quality_stack", "curate_quality_stack_multilingual",
      "curate_top_fraction_sketch",
      "curate_top_fraction_sketch_by_lang",
      "decontaminate_bloom_corpus", "decontaminate_corpus",
      "decontaminate_semantic_pairs", "dedup_audio_corpus",
      "dedup_audio_corpus_aligned", "dedup_audio_corpus_shifted",
      "dedup_audio_pairs", "dedup_components_incremental",
      "dedup_corpus", "dedup_corpus_lines", "dedup_eval_report",
      "dedup_exact", "dedup_image_pairs", "dedup_image_pairs_phash",
      "dedup_incremental", "dedup_minhash_lsh", "dedup_ngram_pairs",
      "dedup_simhash_pairs", "dedup_soft_sample", "dedup_soft_weights",
      "dedup_soft_weights_delete", "dedup_substring_excise",
      "dedup_substring_pairs", "dedup_video_pairs", "dsir_importance",
      "dsir_top_select", "embed_pca_components", "embed_pca_project",
      "extract_html_text", "gopher_repetition", "graph_triangles",
      "image_phash_dihedral", "lm_cross_scores", "lm_kn5_scores",
      "lm_kn_cross_scores", "lm_kn_mod_scores", "lm_kn_scores",
      "normalize_documents", "pack_fragments", "pack_fragments_epoch",
      "pack_manifest", "pack_sequences_bpe", "pack_sequences_epoch",
      "pack_sequences_incremental", "pack_sequences_trained",
      "pagerank_dedup_graph", "pq_encode_256",
      "quality_perplexity_buckets", "sample_balanced_clusters",
      "sample_domain_cap", "sample_temperature_mixture",
      "scd2_documents_history", "semdedup_incremental",
      "semdedup_pairs", "shard_token_budget", "tokenize_documents",
      "tokenize_unigram", "tokenize_unigram_vocab",
      "wordpiece_train_merges"))
    assert(ladder.filter(_.serveOnly).map(r => r.name -> r.query.name).toMap == Map(
      "ann_index_incremental_serve" -> "ann_index_incremental",
      "ann_index_reindex_serve" -> "ann_index_reindex",
      "ann_ivf_pq_index_serve" -> "ann_ivf_pq_index_topk",
      "ann_opq_production_serve" -> "ann_opq_production_topk",
      "bm25_index_incremental_serve" -> "bm25_index_incremental",
      "bm25_index_serve" -> "bm25_index_search",
      "bm25_multi_serve" -> "bm25_multi_query",
      "bpe_specials_serve" -> "bpe_specials_roundtrip_encode_ids",
      "classify_lang_nb_serve" -> "classify_lang_nb_from_model",
      "classify_langid_lr_serve" -> "classify_langid_lr_from_model",
      "classify_quality_lr_serve" -> "classify_quality_lr_from_model",
      "curate_quality_stack_serve" -> "curate_quality_stack_streaming",
      "search_hybrid_rrf_incremental_serve" -> "search_hybrid_rrf_incremental",
      "search_hybrid_rrf_multi_serve" -> "search_hybrid_rrf_multi",
      "search_hybrid_rrf_serve" -> "search_hybrid_rrf",
      "wordpiece_ids_serve" -> "wordpiece_hf_roundtrip_encode_ids"))
    assert(ladder.filter(_.query.tags(Digest)).map(_.name).sorted == Seq(
      "bpe_specials_serve", "c4_line_filter", "embed_pca_project",
      "extract_html_text", "gopher_repetition", "normalize_documents",
      "tokenize_unigram", "wordpiece_ids_serve"))
  }

  test("a name declared twice is rejected, naming it") {
    val q = query("twice")((s, _) => s.emptyDataFrame)
    val e = intercept[IllegalArgumentException](
      index("registry", Seq(q, q).map(x => x.name -> x)))
    assert(e.getMessage.contains("twice"))
  }

  test("resolve returns the named entries or names every unknown one") {
    assert(resolve("Verify", Seq("q1_agg"), SparkEntry.byName).map(_.name) ==
      Seq("q1_agg"))
    val e = intercept[IllegalArgumentException](resolve("Verify",
      Seq("q1_agg", "no_such_query", "q1_agg_typo"), SparkEntry.byName))
    assert(e.getMessage.contains("no_such_query, q1_agg_typo"))
    assert(!e.getMessage.contains("q1_agg,"))
  }
}

from featureengineer_spark.operators.windows import (  # noqa: F401
    turn_window,
    with_lags,
    with_inter_turn_latency,
    with_rolling_counts,
    with_backfill,
    with_session_ids,
    with_sliding_norm,
    with_deltas,
    with_group_norm,
    with_cumulative,
    with_time_features,
    with_ewma,
    with_iir,
    iir_impulse_response,
    RASTA_B,
    RASTA_A,
)
from featureengineer_spark.operators.asof import (  # noqa: F401
    asof_join,
    asof_join_auto,
    salted_asof_join,
)
from featureengineer_spark.operators.skew import (  # noqa: F401
    detect_heavy_keys,
    salted_iir,
    salted_rolling_counts,
)
from featureengineer_spark.operators.tv import (  # noqa: F401
    TVModel,
    extract_latent_factors,
    train_total_variability,
    whiten_stats,
)
from featureengineer_spark.operators.plda import (  # noqa: F401
    PLDAModel,
    apply_projection,
    fit_lda,
    fit_two_cov,
    fit_wccn,
    train_plda,
)
from featureengineer_spark.operators.dedup import (  # noqa: F401
    dedup_exact,
    embedding_near_dups,
    minhash_lsh_candidates,
    near_dup_clusters,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from featureengineer_spark.operators.similarity import (  # noqa: F401
    ann_topk_ivf,
    build_ivf_index,
    search_ivf_index,
    ann_topk_lsh,
    cosine_topk,
    hyperplane_tables,
    train_kmeans,
)
from featureengineer_spark.operators.scoring import (  # noqa: F401
    det_curve,
    eer,
    min_dcf,
    score_trials,
    score_trials_bilinear,
    score_trials_plda,
    score_trials_two_cov,
)
from featureengineer_spark.operators.em import (  # noqa: F401
    GMM,
    sufficient_stats,
    train_gmm,
    train_gmm_split,
)
from featureengineer_spark.operators.whitening import (  # noqa: F401
    apply_sphnorm,
    apply_whitening,
    fit_sphnorm,
    fit_whitener,
)
from featureengineer_spark.operators.textstats import (  # noqa: F401
    bigram_model,
    with_perplexity_buckets,
    contamination_overlap,
    quantile_thresholds,
    unigram_model,
    with_bigram_logprob,
    with_fingerprint,
    with_lang_id,
    with_quality_score,
    with_redaction,
    with_repetition_stats,
    with_token_counts,
    with_unigram_logprob,
)
from featureengineer_spark.operators.curation import (  # noqa: F401
    conversation_quality,
    temperature_mix,
    drop_repeated_turns,
    pack_sequences,
    render_conversations,
    shuffle_shards,
    stratified_sample,
    token_budget_mix,
    with_chunks,
)
from featureengineer_spark.operators.dedup import (  # noqa: F401
    band_store,
    dedup_conversations,
    near_dedup_filter,
    near_dedup_first_seen,
    near_dedup_incremental,
    ngram_containment_pairs,
)
from featureengineer_spark.operators.classifier import (  # noqa: F401
    LogisticModel,
    doc_feature_vectors,
    quality_classifier_filter,
    score_quality,
    train_quality_classifier,
)
from featureengineer_spark.operators.pq import (  # noqa: F401
    PQModel,
    build_ivfpq_index,
    encode_pq,
    reconstruct_pq,
    search_ivfpq_index,
    search_pq,
    train_pq,
)
from featureengineer_spark.operators.graphrank import (  # noqa: F401
    pagerank,
    pagerank_oracle_sql,
)
from featureengineer_spark.operators.weburl import (  # noqa: F401
    extract_html_text,
    filter_blocked_domains,
    with_html_stats,
    with_html_text,
    url_dedup,
    with_canonical_url,
)
from featureengineer_spark.operators.quality import (  # noqa: F401
    gopher_filter,
    with_gopher_flags,
)
from featureengineer_spark.operators.paragraphs import (  # noqa: F401
    drop_duplicate_paragraphs,
    duplicated_paragraph_groups,
    split_paragraphs,
)
from featureengineer_spark.operators.winnow import (  # noqa: F401
    winnow_fingerprints,
    winnow_pairs,
)
from featureengineer_spark.operators.dsir import (  # noqa: F401
    dsir_select,
    dsir_weights,
)
from featureengineer_spark.operators.semdedup import (  # noqa: F401
    semdedup,
    semdedup_filter,
)
from featureengineer_spark.operators.retrieval import (  # noqa: F401
    bm25_idf,
    bm25_topk,
    corpus_stats,
)
from featureengineer_spark.operators.hierarchy import (  # noqa: F401
    resolve_roots,
    with_thread_root,
)
from featureengineer_spark.operators.overlap import (  # noqa: F401
    corpus_overlap,
    corpus_signatures,
)
from featureengineer_spark.operators.bloom import (  # noqa: F401
    bloom_gate,
    build_bloom,
    with_bloom_flag,
)
from featureengineer_spark.operators.spans import (  # noqa: F401
    drop_duplicated_spans,
    duplicated_span_extents,
)
from featureengineer_spark.operators.tokenize import (  # noqa: F401
    apply_bpe,
    encode_words,
    pair_counts,
    train_bpe,
    word_counts,
)

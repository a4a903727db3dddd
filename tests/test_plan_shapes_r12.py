"""Round-12 cache-pin gate (VERDICT r11 #3, the unpartitioned-window
allowlist idiom applied to persisted intermediates).

Several lanes persist() a shared intermediate; at 100 TB an UN-RELEASED
corpus-sized cache is executor memory/disk held hostage for the rest of
the session (the oracle sweep builds 277 lanes back-to-back; a notebook
session lives for hours). The discipline:

1. every lane-side persist goes through ``plans.registry.pin`` — a
   recorded persist a harness can drop wholesale with
   ``release_pinned()`` between lanes;
2. any lane whose FINAL plan carries an InMemoryRelation must be
   justified in CACHE_ALLOWLIST below (what is cached + why that is
   sane at scale) — a new un-listed persist fails this gate loudly;
3. after release_pinned(), Spark's CacheManager must be EMPTY — this
   catches plain .persist()/.cache() sneaking in anywhere in a lane's
   build path (operators called by lanes release their own caches in
   ``finally`` blocks; this pin proves it stays true).

The lanes are built once per session by conftest's ``lane_plans``, which
the r9 window gate reads too.
"""

from __future__ import annotations

# Lane -> what is pinned and why that is acceptable at scale. "corpus-
# sized" pins are the reuse-twice-or-more intermediates (tokenized tf
# tables, dedup signatures, edge sets) whose recompute would double the
# lane's scan work; ALL of them are released by release_pinned between
# lanes, so nothing outlives the query that pinned it. "bounded" pins
# are aggregates whose row count is a domain (days, buckets, spectrum),
# not the data.
CACHE_ALLOWLIST = {
    # --- token / term-frequency frames (corpus-sized, reused >=2x) ---
    "search_bm25_topk": "tf(doc,tok) feeds dl/df/query branches",
    "search_hybrid_rrf": "tf(doc,tok) feeds both retrievers + fusion",
    "search_mrr_ndcg_bm25": "tf(doc,tok) feeds retrieval + gain join",
    "search_mrr_ndcg_hybrid": "tf(doc,tok) feeds two retrievers + gains",
    "text_unigram_surprisal": "exploded tokens feed model + scoring",
    "text_bigram_surprisal": "bigram tf feeds model + scoring",
    "text_tfidf_top_terms": "tf feeds df join + ranking",
    "text_top_keywords": "tf feeds df join + ranking",
    "text_bpe_segment": "iterative merge loop re-reads the pair table",
    "agg_market_basket": "basket pairs feed support + lift branches",
    # --- dedup signature frames (corpus-sized, reused >=2x) ---
    "dedup_minhash_lsh": "shingle minhash signatures feed band buckets",
    "dedup_incremental_minhash": "batch signatures vs stored index",
    "dedup_ngram_jaccard": "shingle sets feed bucket join + rescore",
    "dedup_simhash": "simhash words feed bucket join + hamming",
    "dedup_simhash_wide": "wide simhash words, same shape",
    "dedup_simhash_wide_recall": "signatures feed candidates + truth",
    "dedup_lsh_recall": "signatures feed LSH + exact-truth branches",
    "dedup_containment": "shingle sets feed both containment sides",
    "dedup_edit_distance": "q-gram profiles feed prescreen + rescore",
    "dedup_edit_distance_q4": "q-gram profiles, q=4 variant",
    "dedup_substring_spans": "rolling-hash spans feed both join sides",
    "media_phash_candidates": "phash words feed bucket join + hamming",
    # --- embedding / vector frames (corpus-sized, reused >=2x) ---
    "ann_ivf_topk": "normed vectors feed quantizer train + assign + probe",
    "ann_ivf_topk_c32": "sized-quantizer twin of ann_ivf_topk",
    "ann_ivf_recall": "normed vectors feed IVF + exact-truth branches",
    "ann_ivf_recall_c32": "sized twin of ann_ivf_recall",
    "ann_hard_negatives_ivf": "normed vectors feed IVF probe + ceiling",
    "ann_hard_negatives_recall": "IVF mining + brute-force truth",
    "ann_pq_topk": "normed vectors feed codebook train + encode + scan",
    "ann_pq_recall": "PQ scan + exact-truth branches",
    "embedding_kmeans_clusters": "normed vectors re-read per Lloyd pass",
    "dedup_graph_triangles": "near-dup edge set feeds 3 join legs",
    "dedup_graph_pagerank": "edge set + degree table re-read per iteration",
    # (graph_blast_radius / graph_contamination_radius left this list in
    # r14: their BFS rounds now eagerly localCheckpoint each frontier, so
    # the pinned edge set is consumed during the build-time round jobs and
    # the RETURNED plan is a union of RDD-scan leaves with no
    # InMemoryRelation — the edges pin itself is still released by
    # release_pinned, which the unreleased-cache assertion below checks.)
    "corpus_build_disposition": "LSH edges feed CC + BFS; decon seeds "
    "re-read per BFS round; the narrow per-doc verdict join feeds both "
    "the survivor ranking and the final label",
    "decontaminate_against_eval": "exploded gram-hash longs feed both "
    "the eval-side distinct and the train-side semi-join (r14)",
    "sample_cluster_balanced": "cluster assignment feeds caps + sampling",
    # --- bounded aggregates (domain-sized, not data-sized) ---
    "events_distribution_drift": "per-(type,day,bucket) histogram + day totals",
    "events_markov_transitions": "per-(from,to) transition counts",
    "events_dau_wau_mau": "per-day active-user aggregate",
    "events_user_lorenz": "frequency-spectrum aggregate (distinct n)",
    "agg_rfm_segmentation_hist": "per-customer RFM triple feeds 3 quantile branches",
}


def test_lane_cache_pins_are_allowlisted_and_released(lane_plans):
    offenders = {
        name: p.cached_relations
        for name, p in lane_plans.items()
        if p.cached_relations and name not in CACHE_ALLOWLIST
    }
    unreleased = [name for name, p in lane_plans.items() if not p.released]
    seen_imr = {name for name, p in lane_plans.items() if p.cached_relations}
    assert not offenders, (
        "lanes with NEW un-allowlisted InMemoryRelations — route the "
        "persist through plans.registry.pin and justify the cache here "
        f"(what + size bound): {sorted(offenders)}"
    )
    assert not unreleased, (
        "lanes whose build left a cache release_pinned() could not drop "
        "(a plain .persist()/.cache() outside pin, or an operator "
        f"missing its finally-unpersist): {unreleased}"
    )
    # the allowlist must not rot: every entry still pins something
    stale = sorted(set(CACHE_ALLOWLIST) - seen_imr)
    assert not stale, f"allowlist entries without an InMemoryRelation: {stale}"

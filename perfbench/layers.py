"""Names and units of the per-layer metrics the traced run reports.

``BENCHMARK.json``'s ``per_layer`` list mirrors this one. A traced run
reports every name; a layer its workload does not call reads 0. The
report line of a traced run also lists every span it recorded, which is
how the ungated graph workloads show their per-layer numbers.
"""

from __future__ import annotations

# layer calls the workloads make, ``<layer>.<function>``
KG_CALLS = ["kg_fused.construct_triples_fused"]
PIPELINE_CALLS = [
    "pipeline.run_extract",
    "pipeline.run_fused_stage_edges",
    "pipeline.resume.run_all",
    "pipeline.run_incremental",
]
DEDUP_CALLS = [
    "dedup.ngram_jaccard_pairs",
    "dedup.ngram_jaccard_pairs_join",
    "dedup.minhash_lsh_pairs",
    "dedup.simhash_verified_pairs",
    "dedup.exact_substring_spans",
    "similarity.embedding_neardup_pairs",
    "similarity.semdedup",
    "textquality.repetition_signals",
]
# ArticleRank inside the pipeline's global pass: an eager loop, so its
# span (opened by wrapping the module function) carries its stages
RANK_CALLS = ["rank.article_rank"]
# other spans opened inside a call; only their self time is reported
INNER_SPANS = [
    "canonicalize.build_canonical_map_auto",
    "canonicalize.apply_canonical_map",
    "graph.derive_nodes",
    "similarity.kmeans_embeddings",
    "kg_fused.construct_triples_fused_ner0",
    "dedup.simhash_candidates_from_sigs",
]
SPILL = [
    "kg_fused.construct_triples_fused",
    "pipeline.run_incremental",
    "dedup.ngram_jaccard_pairs",
    "dedup.ngram_jaccard_pairs_join",
    "similarity.embedding_neardup_pairs",
    "similarity.semdedup",
]
ROWS_OUT = [
    "dedup.ngram_jaccard_pairs",
    "dedup.ngram_jaccard_pairs_join",
    "dedup.minhash_lsh_pairs",
    "dedup.simhash_verified_pairs",
]


def _per_layer() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric."""
    out: list[tuple[str, str, str]] = [
        ("session.get_spark.s", "s", "lower"),
        ("datagen.generate_corpus.s", "s", "lower"),
    ]
    for call in KG_CALLS + PIPELINE_CALLS + RANK_CALLS + DEDUP_CALLS:
        out += [
            (f"{call}.s", "s", "lower"),
            (f"{call}.stages", "count", "lower"),
            (f"{call}.tasks", "count", "lower"),
            (f"{call}.busy_frac", "ratio", "higher"),
            (f"{call}.shuffle_write_mb", "MB", "lower"),
        ]
        if call not in RANK_CALLS:
            out.append((f"{call}.failed", "count", "lower"))
        if call in SPILL:
            out.append((f"{call}.spill_mb", "MB", "lower"))
        if call in ROWS_OUT:
            # the pair sets are fixed by the seed; a change is a recall change
            out.append((f"{call}.rows_out", "count", "higher"))
    out += [(f"{name}.s", "s", "lower") for name in INNER_SPANS]
    out += [
        ("extract.extract_one.us_per_page", "us", "lower"),
        ("mentions.tag_text.us_per_page", "us", "lower"),
        ("mentions.scorer.us_per_context", "us", "lower"),
        ("kg_fused.page_edges.us_per_page", "us", "lower"),
        ("kg_fused.ner_share", "ratio", "lower"),
        ("kg_fused.construct_triples_fused.triples_per_s", "1/s", "higher"),
        ("pipeline.run_incremental.refresh_s", "s", "lower"),
        # both must read 1.0: recomputing fewer buckets than pending or
        # touched fails the output checks, more is wasted work
        ("pipeline.resume.redone_frac", "ratio", "lower"),
        ("pipeline.run_incremental.buckets_frac", "ratio", "lower"),
        ("pipeline.bytes_written_per_input_byte", "ratio", "lower"),
        ("pipeline.bucket_skew", "ratio", "lower"),
        ("dedup.simhash.candidates_per_pair", "ratio", "lower"),
        # rise of the Python driver's peak RSS over its RSS at the start
        # of a timed section (untraced jobs): what the package's driver
        # collects add on top of the baseline peak_rss_mb includes
        ("driver.rss_rise_mb", "MB", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return out


PER_LAYER = _per_layer()

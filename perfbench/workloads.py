"""Workload definitions.

Each workload is one list of queries that a run makes one cold pass
over, in an order permuted by the seed. The seed changes nothing but the
order; the program sees nothing but the fixture files. README.md
explains how each list was chosen.
"""
import random

WORKLOADS = {
    "streaming": {
        "sf": "sf0.1",
        "queries": [
            "q40_stream_tumble", "q42_stream_dedup", "q65_upsert_materialize",
            "q95_cep_not_followed_by", "q101_mr_optional",
        ],
    },
    "index-lifecycle": {
        "sf": "sf0.1",
        "queries": [
            "q168_simhash_incremental", "q171_streaming_ingest",
            "q178_semantic_repair",
        ],
    },
    "batch-sf1": {
        "sf": "sf1",
        "queries": [
            "q1_agg", "q2_star_join", "q15_full_outer", "q35_ivf_topk",
        ],
    },
}


def pass_order(queries, seed):
    """`queries` in a seed-permuted order."""
    return random.Random(seed).sample(queries, len(queries))

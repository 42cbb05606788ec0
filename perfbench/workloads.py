"""The benchmark's workloads: frozen query lists and input sizes.

The lists are copies, not imports: a later edit to ``bench.HEADLINE`` or
to the registry order cannot change what this benchmark measures.  Each
is a subset of a larger list (``bench.HEADLINE``, the 93-query contract
bench; the 15 floor queries of BENCH_SF1_r16.json), trimmed so that one
run (set-up, cold pass, warm passes, output check) fits the run budget;
perfbench/README.md records what was trimmed.
"""

from __future__ import annotations

# Fixed JIT warm-up, the last part of the set-up (the same two queries
# bench.py warms with): the batch and the streaming code paths.
WARMUP = ("features_topk", "stream_type_totals")

WORKLOADS = {
    "mix_sf0.1": {
        "sf": 0.1,
        # The flagship event-analytics query (market-basket pairs), a
        # streaming aggregation (availableNow micro-batches with
        # state-store and write-ahead-log commits) and a query that
        # builds a session memo on its first call (the semantic-dedup
        # cluster assignment).
        "queries": ["frequent_pairs", "stream_bitmap_distinct", "dedup_semantic_clustered"],
    },
    "floors_10x": {
        "sf": 0.1,
        "copies": 10,  # tests/make_scale_fixture.py 10: the 10x derived tree
        # The data-bound floor query that fits the run: a JSON parse
        # over the 10x events table, read as one parquet file.
        "queries": ["json_extract"],
    },
}


def module_of(fn) -> str:
    """The operator module a query lives in, e.g. ``webservice``;
    streaming queries report as ``streaming``."""
    parts = fn.__module__.split(".")
    return "streaming" if "streaming" in parts else parts[-1]

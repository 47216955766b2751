"""The three benchmark workloads and the query_mix panel.

- ``patents_e2e``: the paper's pipeline (``pipeline_patents_e2e``: raw
  text ingest, regex parse, co-citation edges, 10-round PageRank, per-class
  top-3, parquet sink) run back to back on one dataset. Pure JVM work; it
  never enters a Python kernel or a text shared cache, so it is the
  no-change control for kernel and cache changes.
- ``curation_cold``: the LLM-data-curation pipeline
  (``pipeline_llm_curation_e2e``), each run on its own byte-identical copy
  of the dataset. The text shared caches are keyed by the dataset
  directory, so every run rebuilds the minhash signatures, LSH pairs and
  the ``dedup_cluster_cc`` contraction fixpoint, as a new corpus would.
- ``query_mix``: a panel of one registered query per engine module, in
  a fixed order, run back to back on one warm session so shared
  caches are hit, not built. Overhead-bound: plan construction, job
  launch, the scheduling floor and Python-worker round trips dominate. It
  is the only workload that runs the Python/Arrow kernels and streaming.
"""

from __future__ import annotations

# Dataset scale (lineitem = 6e6 * sf rows). sf0.01 keeps a run inside its
# time budget: at this size every flagship step is already bound by the
# per-job floor rather than by rows (sf0.001 and sf0.01 run the same
# ~3 s patents op on 4 cores).
SF = 0.01

# The query_mix panel: one registered query per engine module, run in
# this order. Every run times the same panel in the same order, so runs
# compare; the run's --seed chooses the data. Drawing the panel per seed
# moves the median op time between seeds by more than the bound, because
# op costs within one module span two orders of magnitude. A seeded order
# moved a pass's CPU time by up to a third between seeds (12.99 against
# 9.52 CPU-seconds, with every query slower, not one), and by no more than
# run-to-run noise once the order was fixed.
# Each run starts a fresh JVM, where a query's first run costs 2-4x its
# warm run, and the warm-up pass pays that for the whole panel, so the
# picks are queries that run in about 1 s warm on 4 cores at SF. Left out:
# the pipeline module (the flagships: workloads of their own), pyds (its
# one query costs 7 s a pass) and graph_pagerank (~9 s cold plus ~7 s
# warm, a third more per run); the PageRank loop is measured by
# patents_e2e. The picks still cover Python UDF and Arrow kernels
# (udtf_map_in_arrow, vec_cosine_topk) and a streaming micro-batch query.
PANEL = (
    "agg_weighted_median",     # aggregates
    "graph_edge_churn",        # graph
    "join_broadcast",          # joins
    "ml_shap_linear",          # ml
    "mm_decode_stub",          # multimodal
    "sql_exists_correlated",   # relational
    "fn_explode",              # scalar
    "seq_topk_paths",          # sequences
    "set_except_all",          # setops
    "stream_foreach_batch",    # streaming
    "text_cdc_chunk",          # text
    "udtf_map_in_arrow",       # udf
    "vec_cosine_topk",         # vector
    "win_lag_lead",            # windows
)


WORKLOADS = ("curation_cold", "patents_e2e", "query_mix")

# Untimed rounds before the timed window, then timed rounds: ops of a
# flagship, passes of query_mix. The engine's JVM compiles with C1 only
# (run.py), so the warm-up compiles what the timed rounds run and later
# rounds cost the same. The timed count is fixed, not set by --seconds, so
# every run does the same work in the same time budget.
WARMUP_ROUNDS = {"curation_cold": 1, "patents_e2e": 2, "query_mix": 1}
TIMED_ROUNDS = 1


def module_of(fn) -> str:
    """Short name of the engine module that registers ``fn``."""
    path = fn.__module__
    return "streaming" if path.endswith("streaming.queries") else path.rsplit(".", 1)[1]

"""Per-layer metrics of the traced run.

Each entry names the end-to-end metric and workload it should move
(the mapping ``BENCHMARK.json`` cannot hold; the traced run record
carries it). Every traced run prints every ``PER_LAYER`` entry (the
per-layer metrics of ``BENCHMARK.json``); a layer a workload does not
exercise reads 0 there. ``corpus_curation`` and ``registry_analytics``,
which ``BENCHMARK.json`` does not list, also print their
``EXTRA_ROWS``. Span times are self times: a span's duration minus its
child spans.
"""

from __future__ import annotations

import statistics

from .trace import ENGINE_COUNTERS
from .workloads import REGISTRY_SLICE

LAYERS = ("session", "sources", "plans", "operators", "functions", "queries", "streaming", "sinks")

REGISTRY = "registry_analytics.pass_s"
STMT = "statement_etl.pass_s"
CORPUS = "corpus_curation.pass_s"
INGEST = "incremental_ingest.epoch_ms_p50/epoch_ms_tail"

# (metric, unit, better, moves)
PER_LAYER: list[tuple[str, str, str, str]] = [
    ("session.job_overhead_ms", "ms", "lower", f"{INGEST}, {REGISTRY}; ~0 on statement_etl"),
    ("session.jobs", "count", "lower", f"{INGEST}, {REGISTRY}"),
    ("session.tasks", "count", "lower", f"{INGEST}, {REGISTRY}"),
    ("sources.scan_binary_files_s", "s", "lower", STMT),
    ("sources.words_from_pdfs_s", "s", "lower", f"{STMT}, cold_pass_s, items_per_s"),
    ("sources.pdf_bytes_in", "bytes", "lower", f"{STMT}, items_per_s"),
    ("sources.pages_in", "count", "higher", f"{STMT}, items_per_s"),
    ("sources.words_out", "count", "lower", STMT),
    ("sources.pages_kept_ratio", "ratio", "lower", STMT),
    ("plans.run_pipeline_s", "s", "lower", STMT),
    ("plans.extract_transactions_s", "s", "lower", STMT),
    ("plans.txns_out", "count", "higher", STMT),
    ("plans.txn_yield_ratio", "ratio", "higher", STMT),
    ("operators.two_tier_lookup_join_s", "s", "lower", f"{STMT}, {REGISTRY} (two_tier_lookup)"),
    ("operators.tier1_ratio", "ratio", "higher", STMT),
    ("operators.tier2_ratio", "ratio", "higher", STMT),
    ("operators.miss_ratio", "ratio", "lower", STMT),
    ("operators.dedup_against_index_s", "s", "lower", INGEST),
    ("operators.near_dup_against_index_s", "s", "lower", INGEST),
    ("operators.index_links", "count", "higher", INGEST),
    ("operators.admit_ratio", "ratio", "lower", INGEST),
    ("functions.stable_checkpoint_calls", "count", "lower", f"{INGEST}, {CORPUS}"),
    ("functions.stable_checkpoint_s", "s", "lower", f"{INGEST}, {CORPUS}"),
    ("streaming.foreach_batch_upsert_s", "s", "lower", f"{INGEST}, stored_bytes_ratio"),
    ("streaming.dim_rows", "count", "higher", INGEST),
    ("streaming.snapshot_bytes_written", "bytes", "lower", f"{INGEST}, stored_bytes_ratio"),
    ("streaming.upsert_write_amplification", "ratio", "lower", f"{INGEST}, stored_bytes_ratio"),
    ("sinks.write_workbook_s", "s", "lower", f"{STMT}, peak_rss_mb"),
    ("sinks.workbook_bytes", "bytes", "lower", f"{STMT}, peak_rss_mb"),
    ("sinks.index_append_s", "s", "lower", "incremental_ingest.epoch_ms_tail"),
    ("sinks.index_files", "count", "lower", "incremental_ingest.epoch_ms_tail"),
    *[
        (f"{layer}.self_s", "s", "lower", "pass_s of the workloads using the layer")
        for layer in LAYERS if layer not in ("session", "queries")
    ],
    ("engine.shuffle_write_bytes", "bytes", "lower", f"pass_s; most on {CORPUS}, {REGISTRY}"),
    ("engine.shuffle_read_bytes", "bytes", "lower", f"pass_s; most on {CORPUS}, {REGISTRY}"),
    ("engine.spill_bytes", "bytes", "lower", "peak_rss_mb, pass_s"),
    ("engine.gc_ms", "ms", "lower", "incremental_ingest.epoch_ms_tail, peak_rss_mb"),
    ("engine.executor_cpu_s", "s", "lower", "pass_s"),
    ("engine.executor_run_s", "s", "lower", "pass_s; run - cpu exposes Python-UDF and IO waits"),
    ("engine.fetch_wait_ms", "ms", "lower", "pass_s"),
    ("trace.overhead_ms", "ms", "lower", "traced minus untraced warm pass, same process"),
]

# Rows of the workloads BENCHMARK.json does not list, printed by their
# traced runs only.
EXTRA_ROWS = {
    "corpus_curation": [
        ("plans.curate_corpus_s", "s", "lower", CORPUS),
        ("plans.kept_ratio", "ratio", "higher", CORPUS),
        ("operators.minhash_candidates_s", "s", "lower", CORPUS),
        ("operators.candidate_pairs", "count", "lower", CORPUS),
        ("operators.candidate_precision", "ratio", "higher", CORPUS),
        ("operators.planted_recall", "ratio", "higher", CORPUS),
        ("operators.eval_ngrams_s", "s", "lower", CORPUS),
        ("operators.decontaminate_s", "s", "lower", CORPUS),
        ("operators.connected_components_s", "s", "lower", CORPUS),
        ("operators.cc_jobs", "count", "lower", CORPUS),
        ("sinks.export_training_shards_s", "s", "lower", f"{CORPUS}, stored_bytes_ratio"),
        ("sinks.files_written", "count", "lower", f"{CORPUS}, stored_bytes_ratio"),
    ],
    "registry_analytics": [
        *[(f"queries.{q}_s", "s", "lower", REGISTRY) for q in REGISTRY_SLICE],
        ("queries.self_s", "s", "lower", REGISTRY),
    ],
}


def rows_for(workload: str) -> list[tuple[str, str, str, str]]:
    return PER_LAYER + EXTRA_ROWS.get(workload, [])


def pass_metrics(tracer, rec: dict, engine: dict[int, dict]) -> dict[str, float]:
    """Per-layer values of one traced pass ``rec``."""
    root = rec["root"]
    spans = tracer.subtree(root)
    self_t = tracer.self_times(root)
    m: dict[str, float] = {f"{n}_s": t for n, t in self_t.items() if n != "pass"}
    for layer in LAYERS:
        m[f"{layer}.self_s"] = sum(t for n, t in self_t.items() if n.startswith(layer + "."))
    m["functions.stable_checkpoint_calls"] = sum(s["name"] == "functions.stable_checkpoint" for s in spans)

    def engine_sum(ss: list[dict], key: str) -> float:
        return sum(engine.get(s["id"], {}).get(key, 0.0) for s in ss)

    m["session.jobs"] = engine_sum(spans, "jobs")
    m["session.tasks"] = engine_sum(spans, "tasks")
    for k in ENGINE_COUNTERS:
        m[f"engine.{k}"] = engine_sum(spans, k)
    m["operators.cc_jobs"] = sum(
        engine_sum(tracer.subtree(s["id"]), "jobs")
        for s in spans if s["name"] == "operators.connected_components"
    )
    m.update(rec.get("counters", {}))
    return m


def layer_metrics(
    workload: str, tracer, measured: list[dict], engine: dict[int, dict], probe_end: dict
) -> dict:
    """Median of each per-layer metric over the traced measured passes,
    as ``{name: (value, unit)}``. Traced runs trace every other pass, so
    the tracing overhead is the median traced minus the median
    untraced measured pass of the same process."""
    traced = [p for p in measured if p["traced"]]
    per_pass = [pass_metrics(tracer, p, engine) for p in traced]
    out = {
        name: (statistics.median(m.get(name, 0.0) for m in per_pass), unit)
        for name, unit, _, _ in rows_for(workload)
    }
    out["session.job_overhead_ms"] = (probe_end["spark_job_ms"], "ms")
    untraced = [p["s"] for p in measured if not p["traced"]]
    overhead = statistics.median(p["s"] for p in traced) - statistics.median(untraced)
    out["trace.overhead_ms"] = (overhead * 1000, "ms")
    return out

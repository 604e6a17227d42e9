"""Self-tests of the benchmark's generators, checkers and metric tables.

No Spark: the generators must give the same bytes for the same seed,
every checker must pass the planted truth and fail a corrupted copy of
it, and ``BENCHMARK.json`` must name what ``run.py`` prints.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from perfbench import checks, gen, metrics, run, workloads

ROOT = Path(__file__).resolve().parent.parent


# ------------------------------------------------------- generators


def test_statements_same_seed_same_bytes():
    a = gen.gen_statements(7, statements=4)
    b = gen.gen_statements(7, statements=4)
    assert a.pdfs == b.pdfs
    assert (a.expected, a.dim_rows, a.tiers) == (b.expected, b.dim_rows, b.tiers)
    assert gen.gen_statements(8, statements=4).pdfs != a.pdfs


def test_statements_plant_every_tier_and_decoys():
    st = gen.gen_statements(3, statements=6)
    assert all(st.tiers[k] > 0 for k in ("tier1", "tier2", "miss"))
    assert st.pages > st.pages_kept  # decoy Disclosures pages
    assert any(r[7] < 0 for r in st.expected)  # credits
    assert st.candidate_rows > len(st.expected)  # payment rows dropped


def test_every_statement_page_reads_back():
    # seed 2 draws pages whose compressed stream ends in a CR byte
    from accounting_etl_spark.sources.pdf_codec import extract_words

    st = gen.gen_statements(2, statements=48)
    words = [extract_words(p) for p in st.pdfs.values()]
    assert sum(len({w[0] for w in ws}) for ws in words) == st.pages
    assert any(w[1] == gen.FILLER[0] for ws in words for w in ws)


def test_docs_same_seed_same_bytes(tmp_path):
    a = gen.gen_corpus(5, n_docs=400)
    b = gen.gen_corpus(5, n_docs=400)
    assert (a.docs, a.truth, a.near_pairs) == (b.docs, b.truth, b.near_pairs)
    gen.write_docs(a.docs, str(tmp_path / "a.parquet"))
    gen.write_docs(b.docs, str(tmp_path / "b.parquet"))
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()
    assert gen.gen_corpus(6, n_docs=400).docs != a.docs


def test_corpus_plants_every_family():
    c = gen.gen_corpus(5, n_docs=1000)
    kinds = set(c.truth.values())
    assert kinds == {None, "exact_dup", "near_dup", "low_quality", "contaminated"}
    assert c.near_pairs and c.near_pairs <= c.dup_pairs


def test_ingest_same_seed_same_inputs():
    kw = dict(corpus_docs=200, batch_docs=50, epochs=3)
    a, b = gen.gen_ingest(9, **kw), gen.gen_ingest(9, **kw)
    assert a == b
    assert all(ep.exact and ep.near and ep.fresh for ep in a.epochs)


def test_star_same_seed_same_bytes(tmp_path):
    gen.gen_star(4, str(tmp_path / "a"), scale=0.01)
    gen.gen_star(4, str(tmp_path / "b"), scale=0.01)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()


# --------------------------------------------------------- checkers


def test_check_statements_passes_truth_and_fails_corruption():
    st = gen.gen_statements(2, statements=4)
    rows = list(st.expected)
    assert checks.check_statements(st, rows) == []
    wrong_cents = [(*rows[0][:7], rows[0][7] + 1), *rows[1:]]
    assert checks.check_statements(st, wrong_cents)
    assert checks.check_statements(st, rows[1:])
    hit = next(i for i, r in enumerate(rows) if r[2] is not None)
    dropped_codes = list(rows)
    dropped_codes[hit] = (*rows[hit][:2], *(None,) * 5, rows[hit][7])
    assert checks.check_statements(st, dropped_codes)


def curation_truth(c: gen.Corpus):
    text = dict(c.docs)
    kept = sorted(d for d, v in c.truth.items() if v is None)
    manifest = [(len(kept), sum(len(text[d].split(" ")) for d in kept))]
    return dict(c.truth), manifest, kept


def test_check_curation_passes_truth_and_fails_corruption():
    c = gen.gen_corpus(1, n_docs=600)
    verdicts, manifest, kept = curation_truth(c)
    problems, recall = checks.check_curation(c, verdicts, manifest, kept)
    assert problems == [] and recall == 1.0

    low = next(d for d, v in verdicts.items() if v == "low_quality")
    assert checks.check_curation(c, {**verdicts, low: None}, manifest, kept)[0]
    contam = next(d for d, v in verdicts.items() if v == "contaminated")
    assert checks.check_curation(c, {**verdicts, contam: "low_quality"}, manifest, kept)[0]
    n, t = manifest[0]
    assert checks.check_curation(c, verdicts, [(n, t + 1)], kept)[0]
    assert checks.check_curation(c, verdicts, manifest, kept[1:])[0]
    # near-dup misses are tolerated down to the recall floor, not below
    near = [d for d, v in verdicts.items() if v == "near_dup"]
    missed = {**verdicts, **{d: None for d in near}}
    problems, recall = checks.check_curation(c, missed, manifest, kept)
    assert recall == 0.0 and any("recall" in p for p in problems)


def epoch_truth(ep: gen.IngestEpoch):
    verdicts = {d: (False, d) for d in (*ep.fresh, *ep.near)}
    verdicts.update({d: (True, src) for d, src in ep.exact.items()})
    links = set(ep.near.items())
    return verdicts, links, set(ep.fresh)


def test_check_epoch_passes_truth_and_fails_corruption():
    ing = gen.gen_ingest(3, corpus_docs=100, batch_docs=40, epochs=1)
    ep = ing.epochs[0]
    verdicts, links, admitted = epoch_truth(ep)
    assert checks.check_epoch(ep, verdicts, links, admitted) == ([], len(ep.near))

    dup, src = next(iter(ep.exact.items()))
    assert checks.check_epoch(ep, verdicts, links, admitted | {dup})[0]
    assert checks.check_epoch(ep, {**verdicts, dup: (True, src + 1)}, links, admitted)[0]
    fresh = next(iter(ep.fresh))
    assert checks.check_epoch(ep, verdicts, links, admitted - {fresh})[0]
    assert checks.check_epoch(ep, verdicts, set(), admitted)[1] == 0


def test_check_dim_passes_truth_and_fails_corruption():
    model = {"ACME": ("1", "2", "3", "4", "5", "e0", "e1"), "BETA": ("6", "7", "8", "9", "0", "e0", "e0")}
    rows = [(k, *v) for k, v in model.items()]
    assert checks.check_dim(model, rows) == []
    assert checks.check_dim(model, rows[:1])
    stale = [rows[0], ("BETA", "6", "7", "8", "9", "0", "e0", "e9")]
    assert checks.check_dim(model, stale)


# ------------------------------------------------- metrics and tail


def test_tail_is_highest_percentile_with_enough_samples_above():
    samples = [float(x) for x in range(1, 41)]
    assert run.tail(samples, beyond=1) == (39.0, 97.5)
    assert run.tail(samples, beyond=10) == (30.0, 75.0)
    # too few samples: a quarter of them lie above the tail
    assert run.tail(samples[:9], beyond=10) == (7.0, 100.0 * 7 / 9)
    assert run.tail(samples[:4], beyond=10) == (3.0, 75.0)
    assert run.tail([2.0], beyond=1) == (2.0, 100.0)


def test_benchmark_json_names_what_run_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (name, unit, better) for name, unit, better, _ in metrics.PER_LAYER
    ]
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)
    assert set(run.SIZES) == set(workloads.WORKLOADS) == set(workloads.TRACE_WRAPS)

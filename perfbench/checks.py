"""Output checks against the generators' planted truth.

Each checker takes plain Python values read back from a pass's outputs
and returns a list of problems (empty when the output is correct). No
Spark here, so the self-tests can corrupt outputs and see them fail.
"""

from __future__ import annotations

from collections import Counter

from .gen import Corpus, IngestEpoch, StatementSet

# MinHash-LSH is probabilistic: a one-word edit of a 50-80 word doc
# keeps word-3-gram Jaccard near 0.9, which 4 bands x 4 rows catch with
# probability ~0.98 per pair. Planted near-dup recall must stay above
# this floor; every exact verdict is checked exactly.
NEAR_RECALL_FLOOR = 0.9


def workbook_rows(book: dict) -> list[tuple]:
    """Rows of the Transactions sheet of ``sinks.xlsx_mini.read_xlsx``
    output as (Date, Vendor, G/L, Location, Program, Funder, Dept,
    amount_cents)."""
    rows = book["sheets"]["Transactions"]["rows"]
    header = [v for v, _ in rows[0]]
    at = {c: header.index(c) for c in header}
    out = []
    for r in rows[1:]:
        vals = [v for v, _ in r] + [None] * (len(header) - len(r))
        amount = vals[at["Amount"]]
        out.append((
            vals[at["Date"]], vals[at["Vendor"]], vals[at["G/L Account"]],
            vals[at["Location"]], vals[at["Program"]], vals[at["Funder"]],
            vals[at["Dept"]], None if amount is None else round(amount * 100),
        ))
    return out


def tier_counts(rows: list[tuple], dim_rows: list[tuple]) -> dict[str, int]:
    """Tiers read off enriched output rows: no codes is a miss, the
    vendor's own codes under its exact name is tier 1, else tier 2."""
    dim = {r[0]: tuple(r[1:6]) for r in dim_rows}
    out = {"tier1": 0, "tier2": 0, "miss": 0}
    for r in rows:
        if r[2] is None:
            out["miss"] += 1
        elif dim.get(r[1]) == tuple(r[2:7]):
            out["tier1"] += 1
        else:
            out["tier2"] += 1
    return out


def check_statements(st: StatementSet, rows: list[tuple]) -> list[str]:
    problems = []
    if len(rows) != len(st.expected):
        problems.append(f"txn count {len(rows)} != {len(st.expected)}")
    got_cents = sum(r[7] or 0 for r in rows)
    want_cents = sum(r[7] for r in st.expected)
    if got_cents != want_cents:
        problems.append(f"cent sum {got_cents} != {want_cents}")
    tiers = tier_counts(rows, st.dim_rows)
    if tiers != st.tiers:
        problems.append(f"tier counts {tiers} != {st.tiers}")
    diff = Counter(rows) - Counter(st.expected)
    if diff:
        problems.append(f"{sum(diff.values())} rows not planted, e.g. {next(iter(diff))}")
    return problems


def check_curation(
    corpus: Corpus,
    verdicts: dict[int, str | None],
    manifest: list[tuple[int, int]],
    exported_ids: list[int],
) -> tuple[list[str], float]:
    """Verdicts are exact except planted near-dups, whose recall must
    reach the floor. ``manifest`` is (n_docs, n_tokens) per shard.
    Returns (problems, near-dup recall)."""
    problems = []
    if set(verdicts) != set(corpus.truth):
        problems.append(f"verdicts for {len(verdicts)} docs, corpus has {len(corpus.truth)}")
    wrong = near = near_hit = 0
    for doc, want in corpus.truth.items():
        got = verdicts.get(doc, "missing")
        if want == "near_dup":
            near += 1
            near_hit += got == "near_dup"
            if got not in ("near_dup", None):
                wrong += 1
        elif got != want:
            wrong += 1
    if wrong:
        problems.append(f"{wrong} wrong verdicts")
    recall = near_hit / near if near else 1.0
    if recall < NEAR_RECALL_FLOOR:
        problems.append(f"near-dup recall {recall:.3f} < {NEAR_RECALL_FLOOR}")
    text = dict(corpus.docs)
    kept = sorted(d for d, v in verdicts.items() if v is None)
    kept_tokens = sum(len(text[d].split(" ")) for d in kept if d in text)
    if sum(n for n, _ in manifest) != len(kept):
        problems.append(f"manifest docs {sum(n for n, _ in manifest)} != kept {len(kept)}")
    if sum(t for _, t in manifest) != kept_tokens:
        problems.append(f"manifest tokens {sum(t for _, t in manifest)} != kept {kept_tokens}")
    if sorted(exported_ids) != kept:
        problems.append("exported shard docs differ from kept docs")
    return problems, recall


def check_epoch(
    ep: IngestEpoch,
    verdicts: dict[int, tuple[bool, int]],
    links: set[tuple[int, int]],
    admitted: set[int],
) -> tuple[list[str], int]:
    """One ingest epoch: exact repeats rejected with their corpus
    survivor, fresh docs admitted. ``verdicts`` maps batch doc ->
    (is_dup, keep_id). Returns (problems, near repeats linked)."""
    problems = []
    for doc, src in ep.exact.items():
        if verdicts.get(doc) != (True, src):
            problems.append(f"exact repeat {doc} of {src}: verdict {verdicts.get(doc)}")
    for doc in ep.fresh:
        if doc not in admitted:
            problems.append(f"fresh doc {doc} not admitted")
    if admitted & set(ep.exact):
        problems.append("exact repeats admitted")
    linked = sum((doc, src) in links for doc, src in ep.near.items())
    return problems, linked


def check_dim(model: dict[str, tuple], rows: list[tuple]) -> list[str]:
    """The live dim snapshot against the upsert model: vendor ->
    (*codes, created_at, updated_at)."""
    got = {r[0]: tuple(r[1:]) for r in rows}
    problems = []
    if len(rows) != len(model):
        problems.append(f"dim rows {len(rows)} != {len(model)}")
    bad = sum(got.get(k) != v for k, v in model.items())
    if bad:
        problems.append(f"{bad} dim rows with stale or wrong values")
    return problems

"""Seeded input generators with planted truth.

Every generator takes a ``random.Random`` (or a seed) and returns the
inputs plus the truth the output checks compare against. The same seed
gives the same bytes; nothing here imports Spark, so the generators and
checkers are testable without a JVM (see ``test_perfbench.py``).
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from accounting_etl_spark.sources.pdf_codec import extract_words, write_pdf

# ---------------------------------------------------------------- words


def make_words(rng: random.Random, n: int, letters: str, lo: int, hi: int) -> list[str]:
    """``n`` distinct words over ``letters``, sorted then shuffled so the
    result depends only on the rng state."""
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) for _ in range(rng.randint(lo, hi))))
    words = sorted(out)
    rng.shuffle(words)
    return words


# ------------------------------------------------------ statement_etl

# Column geometries (Courier 10pt: 6pt per char, so the 7-letter headers
# end 42pt right of their x0). Amounts right-align under their column.
GEOMETRIES = {"A": (460.0, 530.0), "B": (358.0, 458.0)}
SIZE = 10.0
ROW_STEP = 15.0
DIM_COLS = ["gl_account", "location", "program", "funder", "department"]


@dataclass
class StatementSet:
    pdfs: dict[str, bytes]  # file name -> PDF bytes
    dim_rows: list[tuple]  # vendor dim (vendor, *DIM_COLS, created_at)
    # expected output rows: (Date, Vendor, G/L, Location, Program,
    # Funder, Dept, amount_cents)
    expected: list[tuple]
    tiers: dict[str, int]  # planted tier counts: tier1 / tier2 / miss
    pages: int  # all pages, decoys included
    pages_kept: int  # pages that carry "Transaction Details"
    candidate_rows: int  # transaction-shaped rows on kept pages
    pdf_bytes: int = field(default=0)


def _cents_str(c: int) -> str:
    return f"{c // 100:,}.{c % 100:02d}"


def _right(text: str, x1: float) -> float:
    return x1 - 0.6 * SIZE * len(text)


def expected_match(vendor: str, dim: dict[str, tuple]) -> tuple[int, tuple | None]:
    """The two-tier lookup's reference semantics: exact name, else the
    smallest dim name containing the vendor case-insensitively, else a
    miss. Returns (tier, dim codes or None)."""
    if vendor in dim:
        return 1, dim[vendor]
    low = vendor.lower()
    hits = sorted(d for d in dim if low in d.lower())
    if hits:
        return 2, dim[hits[0]]
    return 0, None


def gen_statements(
    seed: int,
    *,
    statements: int,
    pages_per_stmt: tuple[int, int] = (2, 3),
    rows_per_page: int = 30,
    dim_size: int = 300,
    mix: tuple[float, float] = (0.6, 0.25),
) -> StatementSet:
    """Statement PDFs with planted vendors and amounts.

    Each statement has 2 or 3 transaction pages in a fixed cycle, so
    every seed plants the same number of pages (the first with an
    "Account Summary" decoy whose Credits/Charges sit on different
    lines), and every other statement ends with a "Disclosures" page of
    transaction-shaped rows that the page filter must drop. Rows mix
    charges, credits (amount under the Credits column, so negative) and
    payment rows (dropped). Vendors are tier-1 (exact dim names), tier-2
    (a word run of a dim name, matched by containment) or misses (words
    over letters no dim name uses), in the ``mix`` shares.
    """
    rng = random.Random(seed)
    # dim names use letters A-M, misses N-Z: a miss can never be a
    # substring of a dim name
    dim_words = make_words(rng, 400, "ABCDEFGHIJKLM", 3, 7)
    miss_words = make_words(rng, 200, "NOQRSTUVWXYZ", 3, 7)
    names: set[str] = set()
    while len(names) < dim_size:
        names.add(" ".join(rng.sample(dim_words, rng.choice((2, 3)))))
    dim_names = sorted(names)
    dim: dict[str, tuple] = {}
    dim_rows = []
    for i, v in enumerate(dim_names):
        codes = (
            f"5{rng.randint(0, 9999):04d}",
            f"{rng.randint(1, 20):02d}",
            str(rng.randint(1, 999)),
            str(1000 + rng.randint(0, 20)),
            str(300 + rng.randint(0, 30)),
        )
        dim[v] = codes
        dim_rows.append((v, *codes, f"2025-01-{1 + i % 28:02d} 00:00:00"))

    def vendor() -> str:
        r = rng.random()
        if r < mix[0]:
            return rng.choice(dim_names)
        if r < mix[0] + mix[1]:
            ws = rng.choice(dim_names).split(" ")
            k = rng.randint(1, len(ws) - 1)
            start = rng.randint(0, len(ws) - k)
            return " ".join(ws[start:start + k])
        return " ".join(rng.sample(miss_words, rng.choice((1, 2))))

    pdfs: dict[str, bytes] = {}
    expected: list[tuple] = []
    tiers = {"tier1": 0, "tier2": 0, "miss": 0}
    n_pages = n_kept = n_candidates = 0
    for s in range(statements):
        geom = "A" if s % 2 == 0 else "B"
        cx, hx = GEOMETRIES[geom]
        month = 1 + s % 12
        day = 1
        pages = []
        for p in range(pages_per_stmt[(s // 2) % 2]):
            cmds: list[tuple] = []
            if p == 0:
                cmds += [
                    ("Account Summary", 50, 60, SIZE),
                    ("Credits", 50, 80, SIZE), ("Charges", 50, 100, SIZE),
                    ("Transaction Details", 50, 140, SIZE),
                ]
                hdr = 170.0
            else:
                cmds.append(("Transaction Details (continued)", 50, 110, SIZE))
                hdr = 140.0
            cmds += [
                ("Credits", cx, hdr, SIZE), ("Charges", hx, hdr, SIZE),
                ("Trans", 40, hdr + 15, SIZE), ("Post", 80, hdr + 15, SIZE),
                ("Reference", 120, hdr + 15, SIZE), ("Number", 180, hdr + 15, SIZE),
            ]
            y = hdr + 30
            seen: set[tuple[str, str]] = set()
            for _ in range(rows_per_page):
                day = min(day + rng.randint(0, 1), 28)
                tdate = f"{month:02d}/{day:02d}"
                pdate = f"{month:02d}/{min(day + rng.randint(0, 1), 28):02d}"
                ref = f"{rng.randint(1000, 9999)}{''.join(rng.choice('KLMNP') for _ in range(3))}"
                cents = rng.randint(100, 250_000)
                amt = _cents_str(cents)
                if rng.random() < 0.05:
                    desc, credit = "PAYMENT THANK YOU", True
                else:
                    # run_pipeline keys a transaction by (file, page,
                    # post date, description): two same-day rows of one
                    # vendor on a page would fold into one, so none are
                    # planted
                    desc = vendor()
                    while (pdate, desc) in seen:
                        desc = vendor()
                    seen.add((pdate, desc))
                    credit = rng.random() < 0.15
                col_x1 = (cx if credit else hx) + 42.0
                cmds += [
                    (tdate, 40, y, SIZE), (pdate, 80, y, SIZE),
                    (ref, 120, y, SIZE), (desc, 200, y, SIZE),
                    (amt, _right(amt, col_x1), y, SIZE),
                ]
                y += ROW_STEP
                n_candidates += 1
                if desc == "PAYMENT THANK YOU":
                    continue
                tier, codes = expected_match(desc, dim)
                tiers[("miss", "tier1", "tier2")[tier]] += 1
                expected.append(
                    (pdate, desc, *(codes or (None,) * 5),
                     -cents if credit else cents)
                )
            pages.append(cmds)
            n_kept += 1
        if s % 2 == 1:
            decoy = [("Disclosures and terms", 50, 100, 12.0)]
            decoy += [("Credits", cx, 130, SIZE), ("Charges", hx, 130, SIZE)]
            for i in range(5):
                y = 160 + i * ROW_STEP
                decoy += [
                    ("01/01", 40, y, SIZE), ("01/02", 80, y, SIZE),
                    ("0000KKK", 120, y, SIZE), ("LATE FEE SAMPLE", 200, y, SIZE),
                    ("9.99", _right("9.99", hx + 42.0), y, SIZE),
                ]
            pages.append(decoy)
        n_pages += len(pages)
        pdfs[f"stmt_{s:04d}.pdf"] = write_readable_pdf(pages)
    return StatementSet(
        pdfs=pdfs,
        dim_rows=dim_rows,
        expected=expected,
        tiers=tiers,
        pages=n_pages,
        pages_kept=n_kept,
        candidate_rows=n_candidates,
        pdf_bytes=sum(len(b) for b in pdfs.values()),
    )


# A drawn mark the pipeline drops: a one-word row under the last
# transaction row.
FILLER = ("-", 40, 760.0, SIZE)


def write_readable_pdf(pages: list[list[tuple]]) -> bytes:
    """``write_pdf(pages)``, adding a filler mark to any page whose
    words do not read back. The engine's PDF reader drops the last byte
    of a Flate stream that ends in a CR byte (about one page in 256),
    which would lose the page's rows; the benchmark plants only pages
    it can read, so such a page gets a mark until it reads back."""
    pages = [list(p) for p in pages]
    while True:
        payload = write_pdf(pages)
        read = {w[0] for w in extract_words(payload)}
        lost = [k for k in range(len(pages)) if k + 1 not in read]
        if not lost:
            return payload
        for k in lost:
            pages[k].append(FILLER)


def write_statements(st: StatementSet, pdf_dir: str) -> None:
    os.makedirs(pdf_dir, exist_ok=True)
    for name, payload in st.pdfs.items():
        with open(os.path.join(pdf_dir, name), "wb") as f:
            f.write(payload)


# ------------------------------------------------------ text corpora


def _doc(rng: random.Random, vocab: list[str], lo: int = 50, hi: int = 80) -> list[str]:
    return [rng.choice(vocab) for _ in range(rng.randint(lo, hi))]


def _one_word_edit(rng: random.Random, toks: list[str], vocab: list[str]) -> list[str]:
    out = list(toks)
    i = rng.randrange(len(out))
    w = rng.choice(vocab)
    while w == out[i]:
        w = rng.choice(vocab)
    out[i] = w
    return out


@dataclass
class Corpus:
    docs: list[tuple[int, str]]  # (doc_id, text)
    eval_docs: list[tuple[int, str]]
    # doc_id -> planted verdict: None (kept), "contaminated",
    # "low_quality", "exact_dup", or "near_dup" (recall-floored)
    truth: dict[int, str | None]
    near_pairs: set[tuple[int, int]]  # planted near-dup pairs (a < b)
    dup_pairs: set[tuple[int, int]]  # pairs within any planted family


def gen_corpus(
    seed: int,
    *,
    n_docs: int,
    exact_share: float = 0.08,
    near_share: float = 0.12,
    low_share: float = 0.05,
    contam_share: float = 0.03,
) -> Corpus:
    """A doc corpus with planted families.

    Shares are of ``n_docs``: exact-dup families (a base doc plus 1-2
    byte-identical copies), near-dup families (a base plus 1-2 copies
    with one word replaced), low-quality docs (two words repeated) and
    eval-contaminated docs (a 10-word passage of an eval doc spliced
    in). The rest are unique docs. Doc ids are a seeded permutation, so
    the survivor of a family (its minimum id) is not always the base.
    """
    rng = random.Random(seed)
    vocab = make_words(rng, 3000, "abcdefghijklmnopqrstuvwxyz", 3, 9)
    eval_docs = [(i, " ".join(_doc(rng, vocab, 40, 40))) for i in range(40)]
    texts: list[list[str]] = []
    labels: list[str | None] = []
    families: list[tuple[str, list[int]]] = []  # (kind, positions)

    def family(kind: str, budget: float) -> None:
        target = int(n_docs * budget)
        made = 0
        while made < target:
            base = _doc(rng, vocab)
            members = [len(texts)]
            texts.append(base)
            labels.append(None)
            for _ in range(rng.randint(1, 2)):
                members.append(len(texts))
                texts.append(list(base) if kind == "exact_dup"
                             else _one_word_edit(rng, base, vocab))
                labels.append(None)
            families.append((kind, members))
            made += len(members)

    family("exact_dup", exact_share)
    family("near_dup", near_share)
    for _ in range(int(n_docs * low_share)):
        a, b = rng.sample(vocab, 2)
        texts.append([a, b] * rng.randint(5, 9))
        labels.append("low_quality")
    for _ in range(int(n_docs * contam_share)):
        base = _doc(rng, vocab)
        ev = eval_docs[rng.randrange(len(eval_docs))][1].split(" ")
        at = rng.randrange(len(ev) - 10)
        pos = rng.randrange(len(base))
        texts.append(base[:pos] + ev[at:at + 10] + base[pos:])
        labels.append("contaminated")
    while len(texts) < n_docs:
        texts.append(_doc(rng, vocab))
        labels.append(None)

    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)
    truth = {ids[p]: lab for p, lab in enumerate(labels)}
    near_pairs: set[tuple[int, int]] = set()
    dup_pairs: set[tuple[int, int]] = set()
    for kind, positions in families:
        # the survivor of a family is its minimum id, whichever copy
        members = sorted(ids[p] for p in positions)
        for m in members[1:]:
            truth[m] = kind
        pairs = {(a, b) for i, a in enumerate(members) for b in members[i + 1:]}
        dup_pairs |= pairs
        if kind == "near_dup":
            near_pairs |= pairs
    docs = sorted((ids[p], " ".join(t)) for p, t in enumerate(texts))
    return Corpus(
        docs=docs, eval_docs=eval_docs, truth=truth,
        near_pairs=near_pairs, dup_pairs=dup_pairs,
    )


def docs_table(docs: list[tuple[int, str]]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.int64()),
        "text": pa.array([t for _, t in docs], pa.string()),
        "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
    })


def write_docs(docs: list[tuple[int, str]], path: str) -> int:
    """Write docs as one parquet file; returns its size in bytes.
    Uncompressed and without dictionaries, so the size follows the
    docs' text and not how well one seed's text compresses (which moves
    it by ~10% between seeds)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(docs_table(docs), path, compression="none", use_dictionary=False)
    return os.path.getsize(path)


# ------------------------------------------------- incremental_ingest


@dataclass
class IngestEpoch:
    docs: list[tuple[int, str]]
    fresh: set[int]
    exact: dict[int, int]  # batch doc -> corpus doc it repeats
    near: dict[int, int]  # batch doc -> corpus doc it edits
    vendors: list[tuple]  # (vendor, *DIM_COLS) updates and inserts


@dataclass
class Ingest:
    corpus: list[tuple[int, str]]
    initial_dim: list[tuple]
    epochs: list[IngestEpoch]


def gen_ingest(
    seed: int,
    *,
    corpus_docs: int,
    batch_docs: int,
    epochs: int,
    vendor_batch: int = 40,
    dim_size: int = 400,
) -> Ingest:
    """An initial corpus and ``epochs`` batches, each 60% fresh docs,
    20% exact repeats and 20% one-word edits of docs already in the
    index (initial corpus or fresh docs of earlier epochs) in a seeded
    order, plus a vendor batch per epoch that half updates existing
    keys, half inserts new ones."""
    rng = random.Random(seed)
    vocab = make_words(rng, 3000, "abcdefghijklmnopqrstuvwxyz", 3, 9)
    corpus = [(i, " ".join(_doc(rng, vocab))) for i in range(1, corpus_docs + 1)]
    indexed = list(corpus)
    next_id = corpus_docs + 1
    vendor_names = make_words(rng, dim_size + epochs * vendor_batch, "ABCDEFGHIJKLMNOP", 6, 12)
    known = vendor_names[:dim_size]
    fresh_names = vendor_names[dim_size:]

    def codes() -> tuple:
        return (
            f"5{rng.randint(0, 9999):04d}", f"{rng.randint(1, 20):02d}",
            str(rng.randint(1, 999)), str(1000 + rng.randint(0, 20)),
            str(300 + rng.randint(0, 30)),
        )

    initial_dim = [(v, *codes()) for v in known]
    out = []
    for _ in range(epochs):
        docs, fresh, exact, near = [], set(), {}, {}
        n_repeat = batch_docs // 5
        kinds = ["exact"] * n_repeat + ["near"] * n_repeat
        kinds += ["fresh"] * (batch_docs - len(kinds))
        rng.shuffle(kinds)
        for kind in kinds:
            if kind == "fresh":
                text = " ".join(_doc(rng, vocab))
                fresh.add(next_id)
            elif kind == "exact":
                src, text = rng.choice(indexed)
                exact[next_id] = src
            else:
                src, base = rng.choice(indexed)
                text = " ".join(_one_word_edit(rng, base.split(" "), vocab))
                near[next_id] = src
            docs.append((next_id, text))
            next_id += 1
        indexed += [d for d in docs if d[0] in fresh]
        n_upd = vendor_batch // 2
        ups = [(v, *codes()) for v in rng.sample(known, n_upd)]
        new = fresh_names[:vendor_batch - n_upd]
        fresh_names = fresh_names[vendor_batch - n_upd:]
        known += new
        ups += [(v, *codes()) for v in new]
        out.append(IngestEpoch(docs, fresh, exact, near, ups))
    return Ingest(corpus=corpus, initial_dim=initial_dim, epochs=out)


# ------------------------------------------------ registry_analytics

def _ts_days(rng: random.Random, start: dt.datetime, days: int, n: int) -> list[dt.datetime]:
    return [start + dt.timedelta(days=rng.randrange(days)) for _ in range(n)]


def gen_star(seed: int, out_dir: str, *, scale: float) -> dict[str, int]:
    """The star schema the registry queries read (same table names,
    column names and parquet types as the reference fixtures), drawn
    from ``seed`` at ``scale`` (1.0 ~ 100k lineitems). Returns rows per
    table."""
    rng = random.Random(seed)
    n_cust = max(50, int(15_000 * scale))
    n_supp = max(10, int(1_000 * scale))
    n_part = max(50, int(20_000 * scale))
    n_ord = max(200, int(25_000 * scale))
    n_ev = max(500, int(100_000 * scale))
    tables: dict[str, pa.Table] = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [rng.randint(-99_999, 999_999) / 100 for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(segs) for _ in range(n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [rng.randint(-99_999, 999_999) / 100 for _ in range(n_supp)],
    })
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    prices = [900 + rng.randrange(1000) / 10 for _ in range(n_part)]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rng.choice(types) for _ in range(n_part)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": prices,
    })
    odates = _ts_days(rng, dt.datetime(1995, 1, 1), 2400, n_ord)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    li = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )}
    totals = []
    for o in range(n_ord):
        total = 0.0
        for ln in range(1, rng.randint(1, 7) + 1):
            part = rng.randrange(n_part)
            qty = float(rng.randint(1, 50))
            ext = round(qty * prices[part], 2)
            total += ext
            li["l_orderkey"].append(o)
            li["l_partkey"].append(part)
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(ext)
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(odates[o] + dt.timedelta(days=rng.randint(1, 120)))
        totals.append(round(total, 2))
    ts_us = pa.timestamp("us")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rng.choice("FPO") for _ in range(n_ord)],
        "o_totalprice": totals,
        "o_orderdate": pa.array(odates, ts_us),
        "o_orderpriority": [rng.choice(prios) for _ in range(n_ord)],
    })
    li_schema = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(),
                 "l_suppkey": pa.int64(), "l_linenumber": pa.int32(),
                 "l_shipdate": ts_us}
    tables["lineitem"] = pa.table({
        k: pa.array(v, li_schema.get(k)) for k, v in li.items()
    })
    start = dt.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 1_000_000
    ev_ts = sorted(start + dt.timedelta(microseconds=rng.randrange(span_us)) for _ in range(n_ev))
    n_users = max(20, n_cust // 10)
    kinds = ["click", "signup", "error", "view", "purchase"]
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, ts_us),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_ev)], pa.int64()),
        "event_type": [rng.choice(kinds) for _ in range(n_ev)],
        "value": [rng.randint(1, 49_002) / 100 for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)],
    })
    # the slice never reads these, but the registry's view registration
    # expects every table of the schema
    words = make_words(rng, 200, "abcdefghij", 1, 6)
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(5, 60))) for _ in range(100)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(100), pa.int64()),
        "text": texts,
        "lang": ["en"] * 100,
        "source": [f"src{i % 7}" for i in range(100)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(100), pa.int64()),
        "embedding": pa.array(
            [[rng.uniform(-0.3, 0.3) for _ in range(16)] for _ in range(100)],
            pa.list_(pa.float32()),
        ),
        "label": pa.array([rng.randrange(4) for _ in range(100)], pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}

"""The workloads: inputs, one pass through the engine's public
entry points, and the output check of each pass.

A workload object is driven by ``run.py``:

- ``prepare(seed)``: generate inputs from the seed (not timed);
- ``system_setup()``: one-time system work, timed into ``setup_s``;
- ``run_pass(i)``: one pass (an epoch for ``incremental_ingest``),
  returning the latency of each operation it ran (passes count as one
  operation, ``registry_analytics`` times each query);
- ``check(i)``: problems with pass ``i``'s outputs (not timed);
- ``stored_bytes(i)``: bytes pass ``i`` left on disk (not timed);
- ``counters(i)``: traced-run counters read off pass ``i``'s outputs.

``items`` is the input size of one pass in the workload's units.

``BENCHMARK.json`` lists ``statement_etl`` and ``incremental_ingest``;
``corpus_curation`` and ``registry_analytics`` run through the same
command but are left out of it, so that ten seeded runs of every listed
workload on two commits stay within an hour.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, gen

# Traced-run wrappers: (module, attribute, span name, materialize). The
# attribute is the name as the caller imported it, so the engine's own
# calls go through the span.
TRACE_WRAPS = {
    "statement_etl": [
        ("accounting_etl_spark.plans.etl", "scan_binary_files", "sources.scan_binary_files", False),
        ("accounting_etl_spark.plans.etl", "words_from_pdfs", "sources.words_from_pdfs", True),
        ("accounting_etl_spark.plans.etl", "extract_transactions", "plans.extract_transactions", True),
        ("accounting_etl_spark.plans.etl", "two_tier_lookup_join", "operators.two_tier_lookup_join", True),
    ],
    # minhash_bands (index build and batch lookups) checkpoints through
    # the dedup module's stable_checkpoint
    "incremental_ingest": [
        ("accounting_etl_spark.operators.dedup", "stable_checkpoint", "functions.stable_checkpoint", False),
    ],
    "corpus_curation": [
        ("accounting_etl_spark.plans.curation", "decontaminate", "operators.decontaminate", True),
        ("accounting_etl_spark.plans.curation", "connected_components", "operators.connected_components", True),
        *[
            (f"accounting_etl_spark.{mod}", "stable_checkpoint", "functions.stable_checkpoint", False)
            for mod in ("operators.dedup", "operators.decontam", "operators.graph")
        ],
    ],
    "registry_analytics": [],
}

# The relational slice, without event_windows (~9 s) and merge_upsert
# (~4.5 s): together they cost twice the other fourteen (~6.4 s) at any
# table size, which a run's time budget cannot hold; the repository's
# tests still cover them.
REGISTRY_SLICE = (
    "pricing_summary", "flagship_revenue", "outer_join_agg", "grouping_multi",
    "window_running", "window_rank", "session_windows", "asof_join",
    "trade_analytics", "subquery_counts", "top_customer_per_nation",
    "range_join_events", "salted_agg", "two_tier_lookup",
)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's marker and checksum
    files are not data."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def read_parquet_rows(path: str, columns: list[str]) -> list[tuple]:
    """Rows of a Spark-written parquet directory (partition columns
    included), read with pyarrow outside the engine."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


class Workload:
    name = ""
    unit = ""

    def __init__(self, spark, tracer, work: str, sizes: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.sizes = sizes
        self.items = 0
        self.input_bytes = 0

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, "out", f"pass{i:04d}")

    def prepare(self, seed: int) -> None:
        raise NotImplementedError

    def system_setup(self) -> None:
        pass

    def run_pass(self, i: int) -> list[float]:
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        return []

    def failed_ops(self, problems: list[str]) -> int:
        """Operations a pass's problems fail (a pass is one operation)."""
        return 1 if problems else 0

    def final_check(self) -> list[str]:
        return []

    def stored_bytes(self, i: int) -> int:
        raise NotImplementedError

    def counters(self, i: int) -> dict[str, float]:
        return {}

    def discard(self, i: int) -> None:
        shutil.rmtree(self.out_dir(i), ignore_errors=True)


class StatementEtl(Workload):
    """Statement PDFs -> ``plans.etl.run_pipeline`` (PDF words, row
    clustering, two-tier vendor lookup) -> ``sinks.excel.write_workbook``."""

    name = "statement_etl"
    unit = "pages"

    def prepare(self, seed: int) -> None:
        self.st = gen.gen_statements(seed, statements=self.sizes["statements"])
        self.pdf_dir = os.path.join(self.work, "in", "pdfs")
        gen.write_statements(self.st, self.pdf_dir)
        self.dim_path = os.path.join(self.work, "in", "vendor_dim.parquet")
        cols = ["vendor", *gen.DIM_COLS, "created_at"]
        pq.write_table(
            pa.table({c: [r[k] for r in self.st.dim_rows] for k, c in enumerate(cols)}),
            self.dim_path,
        )
        self.items = self.st.pages
        self.input_bytes = self.st.pdf_bytes
        self.rows: dict[int, list[tuple]] = {}

    def run_pass(self, i: int) -> list[float]:
        from accounting_etl_spark.plans.etl import run_pipeline
        from accounting_etl_spark.sinks.excel import write_workbook

        os.makedirs(self.out_dir(i))
        dim = self.spark.read.parquet(self.dim_path)
        with self.tracer.span("plans.run_pipeline"):
            rows = run_pipeline(self.spark, self.pdf_dir, vendor_dim=dim)
        with self.tracer.span("sinks.write_workbook"):
            write_workbook(rows, None, self.workbook(i))
        return []

    def workbook(self, i: int) -> str:
        return os.path.join(self.out_dir(i), "review.xlsx")

    def check(self, i: int) -> list[str]:
        from accounting_etl_spark.sinks.xlsx_mini import read_xlsx

        self.rows[i] = checks.workbook_rows(read_xlsx(self.workbook(i)))
        return checks.check_statements(self.st, self.rows[i])

    def counters(self, i: int) -> dict[str, float]:
        t = self.tracer
        words = t.last("sources.words_from_pdfs")
        pages_kept = words.select("path", "page").distinct().count()
        n_words = t.last_count("sources.words_from_pdfs")
        txns = t.last_count("plans.extract_transactions")
        tiers = checks.tier_counts(self.rows[i], self.st.dim_rows)
        n = max(1, sum(tiers.values()))
        wb = os.path.getsize(self.workbook(i))
        return {
            "sources.pdf_bytes_in": self.st.pdf_bytes,
            "sources.pages_in": self.st.pages,
            "sources.words_out": n_words,
            "sources.pages_kept_ratio": pages_kept / self.st.pages,
            "plans.txns_out": txns,
            "plans.txn_yield_ratio": txns / self.st.candidate_rows,
            "operators.tier1_ratio": tiers["tier1"] / n,
            "operators.tier2_ratio": tiers["tier2"] / n,
            "operators.miss_ratio": tiers["miss"] / n,
            "sinks.workbook_bytes": wb,
        }

    def stored_bytes(self, i: int) -> int:
        return os.path.getsize(self.workbook(i))


class CorpusCuration(Workload):
    """A doc corpus with planted dup, low-quality and contaminated
    families -> ``operators.dedup.minhash_candidates`` ->
    ``operators.decontam.eval_ngrams`` -> ``plans.curation.curate_corpus``
    (decontamination, quality gate, exact dedup, connected components)
    -> the verdict table -> ``sinks.training_export.export_training_shards``
    of the kept docs."""

    name = "corpus_curation"
    unit = "docs"

    def prepare(self, seed: int) -> None:
        self.corpus = gen.gen_corpus(seed, n_docs=self.sizes["docs"])
        inp = os.path.join(self.work, "in")
        self.docs_path = f"{inp}/corpus.parquet"
        self.eval_path = f"{inp}/eval.parquet"
        self.input_bytes = gen.write_docs(self.corpus.docs, self.docs_path)
        gen.write_docs(self.corpus.eval_docs, self.eval_path)
        self.items = len(self.corpus.docs)
        self.recall: dict[int, float] = {}

    def run_pass(self, i: int) -> list[float]:
        from pyspark.sql import functions as F

        from accounting_etl_spark.operators.decontam import eval_ngrams
        from accounting_etl_spark.operators.dedup import minhash_candidates
        from accounting_etl_spark.plans.curation import curate_corpus
        from accounting_etl_spark.sinks.training_export import export_training_shards

        t = self.tracer
        out = self.out_dir(i)
        docs = self.spark.read.parquet(self.docs_path)
        with t.span("operators.minhash_candidates"):
            pairs = t.done(
                "operators.minhash_candidates",
                minhash_candidates(docs, id_col="doc_id", text_col="text"),
            )
        with t.span("operators.eval_ngrams"):
            grams = t.done("operators.eval_ngrams", eval_ngrams(self.spark.read.parquet(self.eval_path)))
        with t.span("plans.curate_corpus"):
            verdicts = curate_corpus(
                docs,
                pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")),
                eval_grams=grams,
            )
            verdicts.write.parquet(f"{out}/verdicts")
        kept = (
            docs.join(self.spark.read.parquet(f"{out}/verdicts").where("keep"), "doc_id", "left_semi")
            .withColumn("n_tokens", F.size(F.split("text", " ")))
            .select("doc_id", "text", "n_tokens")
        )
        with t.span("sinks.export_training_shards"):
            export_training_shards(kept, f"{out}/export", shard_tokens=self.sizes["shard_tokens"])
        return []

    def check(self, i: int) -> list[str]:
        out = self.out_dir(i)
        verdicts = dict(read_parquet_rows(f"{out}/verdicts", ["doc_id", "drop_reason"]))
        manifest = read_parquet_rows(f"{out}/export/_manifest", ["n_docs", "n_tokens"])
        exported = [d for (d,) in read_parquet_rows(f"{out}/export/shards", ["doc_id"])]
        problems, self.recall[i] = checks.check_curation(self.corpus, verdicts, manifest, exported)
        self.kept = sum(v is None for v in verdicts.values())
        return problems

    def stored_bytes(self, i: int) -> int:
        return dir_bytes(f"{self.out_dir(i)}/export/shards")[0]

    def counters(self, i: int) -> dict[str, float]:
        cands = {(r.id_a, r.id_b) for r in self.tracer.last("operators.minhash_candidates").collect()}
        n = max(1, len(cands))
        return {
            "plans.kept_ratio": self.kept / self.items,
            "operators.candidate_pairs": len(cands),
            "operators.candidate_precision": len(cands & self.corpus.dup_pairs) / n,
            "operators.planted_recall": self.recall[i],
            "sinks.files_written": dir_bytes(f"{self.out_dir(i)}/export/shards")[1],
        }


class IncrementalIngest(Workload):
    """A persisted corpus index (exact hashes + MinHash bands) meets
    small batches: per epoch, dedup and near-dup lookups, an append of
    the admitted docs, and a MERGE of a vendor batch into a dim."""

    name = "incremental_ingest"
    unit = "batch_docs"

    def prepare(self, seed: int) -> None:
        s = self.sizes
        self.ing = gen.gen_ingest(
            seed, corpus_docs=s["corpus_docs"], batch_docs=s["batch_docs"], epochs=s["epochs"]
        )
        self.inp = os.path.join(self.work, "in")
        self.input_bytes = gen.write_docs(self.ing.corpus, f"{self.inp}/corpus.parquet")
        vcols = ["vendor", *gen.DIM_COLS]
        for e, ep in enumerate(self.ing.epochs, start=1):
            self.input_bytes += gen.write_docs(ep.docs, f"{self.inp}/batch{e:04d}.parquet")
            pq.write_table(
                pa.table({c: [r[k] for r in ep.vendors] for k, c in enumerate(vcols)}),
                f"{self.inp}/vendors{e:04d}.parquet",
            )
        pq.write_table(
            pa.table({c: [r[k] for r in self.ing.initial_dim] for k, c in enumerate(vcols)}),
            f"{self.inp}/vendors0000.parquet",
        )
        self.idx = os.path.join(self.work, "index")
        self.dim_path = os.path.join(self.work, "dim")
        self.items = s["batch_docs"]
        # the upsert model: vendor -> (*codes, created_at, updated_at)
        self.model = {v[0]: (*v[1:], "epoch-00000000", "epoch-00000000") for v in self.ing.initial_dim}
        self.outputs: dict[int, tuple] = {}
        self.near = self.near_linked = 0
        self.epoch_counts: dict[int, dict] = {}

    def _upsert(self, epoch: int) -> None:
        from accounting_etl_spark.streaming.ingest import foreach_batch_upsert

        batch = self.spark.read.parquet(f"{self.inp}/vendors{epoch:04d}.parquet")
        foreach_batch_upsert(self.dim_path, key="vendor", set_cols=gen.DIM_COLS)(batch, epoch)

    def _append(self, docs, epoch: int, mode: str) -> None:
        from pyspark.sql import functions as F

        from accounting_etl_spark.operators.incremental import exact_hash_index, minhash_band_index
        from accounting_etl_spark.sinks.tables import write_partitioned

        write_partitioned(
            exact_hash_index(docs).withColumn("epoch", F.lit(epoch)),
            f"{self.idx}/exact", partition_by=["epoch"], mode=mode,
        )
        write_partitioned(minhash_band_index(docs), f"{self.idx}/bands", partition_by=["band"], mode=mode)

    def system_setup(self) -> None:
        """The initial index build and the dim's first snapshot."""
        shutil.rmtree(self.idx, ignore_errors=True)
        shutil.rmtree(self.dim_path, ignore_errors=True)
        self._append(self.spark.read.parquet(f"{self.inp}/corpus.parquet"), 0, "overwrite")
        self._upsert(0)

    def run_pass(self, i: int) -> list[float]:
        from pyspark.sql import functions as F

        from accounting_etl_spark.operators.incremental import dedup_against_index, near_dup_against_index

        e = i + 1
        t = self.tracer
        batch = self.spark.read.parquet(f"{self.inp}/batch{e:04d}.parquet")
        with t.span("operators.dedup_against_index"):
            verdicts = {
                r.doc_id: (r.is_dup, r.keep_id)
                for r in dedup_against_index(batch, self.spark.read.parquet(f"{self.idx}/exact"))
                .select("doc_id", "is_dup", "keep_id").collect()
            }
        with t.span("operators.near_dup_against_index"):
            links = {
                (r.batch_id, r.corpus_id)
                for r in near_dup_against_index(batch, self.spark.read.parquet(f"{self.idx}/bands")).collect()
            }
        linked = {b for b, _ in links}
        admitted = sorted(d for d, (dup, _) in verdicts.items() if not dup and d not in linked)
        with t.span("sinks.index_append"):
            self._append(batch.where(F.col("doc_id").isin(admitted)), e, "append")
        with t.span("streaming.foreach_batch_upsert"):
            self._upsert(e)
        self.outputs[i] = (verdicts, links, set(admitted))
        return []

    def check(self, i: int) -> list[str]:
        e = i + 1
        ep = self.ing.epochs[i]
        verdicts, links, admitted = self.outputs.pop(i)
        problems, hit = checks.check_epoch(ep, verdicts, links, admitted)
        self.near += len(ep.near)
        self.near_linked += hit
        for v in ep.vendors:
            created = self.model[v[0]][-2] if v[0] in self.model else f"epoch-{e:08d}"
            self.model[v[0]] = (*v[1:], created, f"epoch-{e:08d}")
        self.epoch_counts[i] = {
            "operators.index_links": len(links),
            "operators.admit_ratio": len(admitted) / len(ep.docs),
            "vendor_rows": len(ep.vendors),
        }
        return problems

    def final_check(self) -> list[str]:
        """After the last epoch: near-repeat recall and the live dim."""
        from accounting_etl_spark.streaming.ingest import read_dim

        problems = []
        recall = self.near_linked / self.near if self.near else 1.0
        if recall < checks.NEAR_RECALL_FLOOR:
            problems.append(f"near-repeat recall {recall:.3f} < {checks.NEAR_RECALL_FLOOR}")
        dim = read_dim(self.spark, self.dim_path)
        rows = [tuple(r) for r in dim.select("vendor", *gen.DIM_COLS, "created_at", "updated_at").collect()]
        return problems + checks.check_dim(self.model, rows)

    def live_dim(self) -> str:
        with open(os.path.join(self.dim_path, "_CURRENT")) as f:
            return os.path.join(self.dim_path, f.read().strip())

    def stored_bytes(self, i: int) -> int:
        """The index plus the live dim snapshot."""
        return dir_bytes(self.idx)[0] + dir_bytes(self.live_dim())[0]

    def counters(self, i: int) -> dict[str, float]:
        live = self.live_dim()
        snap_bytes, _ = dir_bytes(live)
        dim_rows = pq.ParquetDataset(live).read().num_rows
        _, idx_files = dir_bytes(self.idx)
        c = dict(self.epoch_counts[i])
        vendor_rows = c.pop("vendor_rows")
        c.update({
            "streaming.dim_rows": dim_rows,
            "streaming.snapshot_bytes_written": snap_bytes,
            "streaming.upsert_write_amplification": dim_rows / vendor_rows,
            "sinks.index_files": idx_files,
        })
        return c

    def discard(self, i: int) -> None:
        pass


class RegistryAnalytics(Workload):
    """A fixed relational slice of the query registry over a seeded
    star schema, each query written to the noop sink. After the cold
    pass, outside the timed region, each entry's result is written to
    parquet once and checked against the entry's DuckDB oracle SQL."""

    name = "registry_analytics"
    unit = "queries"

    def prepare(self, seed: int) -> None:
        from accounting_etl_spark.registry import all_queries

        self.star = os.path.join(self.work, "in", "star")
        gen.gen_star(seed, self.star, scale=self.sizes["scale"])
        self.input_bytes = dir_bytes(self.star)[0]
        qs = all_queries()
        self.queries = {n: qs[n] for n in REGISTRY_SLICE}
        self.items = len(self.queries)
        self.results = os.path.join(self.work, "results")
        self.errors: dict[int, list[str]] = {}

    def run_pass(self, i: int) -> list[float]:
        lat = []
        self.errors[i] = []
        for name, q in self.queries.items():
            t0 = time.perf_counter()
            with self.tracer.span(f"queries.{name}"):
                try:
                    q.fn(self.spark, self.star).write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 - counted as a failed query
                    self.errors[i].append(f"{name}: {type(e).__name__}: {e}")
            lat.append(time.perf_counter() - t0)
        return lat

    def check(self, i: int) -> list[str]:
        if i != 0:
            return self.errors[i]
        import duckdb
        import pandas as pd

        from tools.check_oracle import compare

        problems = list(self.errors[i])
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.star)):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{self.star}/{f}')"
                )
            for name, q in self.queries.items():
                path = os.path.join(self.results, name)
                try:
                    q.fn(self.spark, self.star).write.parquet(path)
                except Exception as e:  # noqa: BLE001 - counted as a failed query
                    problems.append(f"{name}: {type(e).__name__}: {e}")
                    continue
                pdf = pd.read_parquet(path)
                if q.sql is None:
                    if len(pdf) == 0:
                        problems.append(f"{name}: no rows")
                    continue
                problems += [f"{name}: {p}" for p in compare(pdf, con.execute(q.sql).df())]
        finally:
            con.close()
        return problems

    def stored_bytes(self, i: int) -> int:
        """The checked results of the slice, as the engine wrote them."""
        return dir_bytes(self.results)[0]

    def failed_ops(self, problems: list[str]) -> int:
        """One failed query per query named in the problems."""
        return len({p.split(": ")[1] for p in problems})

    def discard(self, i: int) -> None:
        pass


WORKLOADS = {w.name: w for w in (StatementEtl, CorpusCuration, IncrementalIngest, RegistryAnalytics)}

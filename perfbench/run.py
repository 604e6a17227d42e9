"""Seeded end-to-end benchmark of the accounting ETL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process is a single closed-loop
client on ``local[<cpus>]``: it generates the workload's inputs from the
seed, sets up a session, runs one cold pass and the workload's
``WARMUP_PASSES`` warm-up passes, then measured passes for
``--seconds`` (at least ``MIN_MEASURED_PASSES``;
``incremental_ingest`` runs a fixed number of
epochs derived from ``--seconds``, so the index grows the same way on
every commit). It checks every pass's output against the planted truth
and prints one JSON object as the last line of stdout. A run record
(environment, host-probe readings, every sample, ``cold_pass_s`` and
``failed_ratio`` with their units) is printed on the line before it.

``--trace 0`` reports the end-to-end metrics, the same set on every
workload:

- ``setup_s``: process start to a ready session (median of this
  process and two fresh child processes) plus the workload's one-time
  system work (the initial index build of ``incremental_ingest``);
- ``pass_s``: the median measured pass (an epoch of
  ``incremental_ingest``);
- ``items_per_s``: input units of one pass per measured second;
- ``epoch_ms_p50`` / ``epoch_ms_tail``: median and tail latency of one
  operation: an epoch of ``incremental_ingest``, a query of
  ``registry_analytics``, a pass elsewhere. The tail is the highest
  percentile with ``TAIL_BEYOND`` samples above it, or a quarter of
  the samples when there are too few, recorded with that percentile;
- ``peak_rss_mb``: peak resident memory of this process, the driver
  JVM and the Python workers, sampled from /proc (see ``RssSampler``);
- ``stored_bytes_ratio``: bytes the last pass left on disk over input
  bytes (workbook, training shards, index plus live dim, or the checked
  query results).

``--trace 1`` is a separate run that records spans around calls into
the engine's layers, turns on Spark's event log, and reports the
per-layer metrics of ``metrics.py``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent

# Input sizes per workload, measured on 4 cores so that one run (three
# session start-ups, the cold pass, the warm-up passes and --seconds 15
# of measured passes) stays near a minute: a statement_etl pass takes
# ~4.5 s, a corpus_curation pass ~3.5 s, an ingest epoch ~2 s.
SIZES = {
    "statement_etl": {"statements": 48},
    "corpus_curation": {"docs": 4000, "shard_tokens": 20_000},
    "incremental_ingest": {"corpus_docs": 20_000, "batch_docs": 2000},
    "registry_analytics": {"scale": 0.1},
}
# Passes after the cold one keep getting faster while the JVM compiles
# the hot paths: for about two passes, and for about six ingest epochs
# (a handful of short jobs each). They are run but not measured; with
# two warm-up epochs the first measured ones set epoch_ms_tail.
WARMUP_PASSES = {"incremental_ingest": 4}
DEFAULT_WARMUP_PASSES = 2
MIN_MEASURED_PASSES = 4
MEASURED_EPOCHS_PER_S = 0.6  # incremental_ingest measured epochs per --seconds
# epoch_ms_tail is the highest percentile with this many samples above
# it, or with a quarter of the samples when there are fewer than 40:
# 100 epochs (~250 s) would not fit a run's budget, and with one sample
# above it (the second-highest of 9 epochs) its IQR/median across seeds
# reached 0.27
TAIL_BEYOND = 10
SETUP_SAMPLES = 3  # session start-ups per run: this process + 2 children
# the end-to-end metrics of an untraced run and their units
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "items_per_s": "1/s",
    "epoch_ms_p50": "ms",
    "epoch_ms_tail": "ms",
    "peak_rss_mb": "MB",
    "stored_bytes_ratio": "ratio",
}
# The driver heap: the inputs need far less, and a heap the JVM fills
# early keeps peak RSS steady (with 3 GB it moved by ~40% between runs).
DRIVER_MEMORY_MB = 1024


def _uptime() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def process_age(pid: int | str = "self") -> float:
    """Seconds since process ``pid`` started (10 ms resolution)."""
    with open(f"/proc/{pid}/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return _uptime() - start_ticks / os.sysconf("SC_CLK_TCK")


def hermetic_env(work: Path, trace: bool) -> dict:
    """Pin the environment every run sees, before the JVM starts, and
    return the pinned values for the run record."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    for d in ("local", "tmp", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    submit = "pyspark-shell"
    if trace:
        submit = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.rolling.enabled=false "
            "--conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.dir=file://{work / 'eventlog'} pyspark-shell"
        )
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{min(DRIVER_MEMORY_MB, mem_mb // 4)}m",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": submit,
    }
    for k in ("SPARK_SQL_SHUFFLE_PARTITIONS", "SPARK_GRAFT_TZ", "SPARK_GRAFT_ROCKSDB", "SPARK_CONF_DIR"):
        os.environ.pop(k, None)
    os.environ.update(pinned)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {**pinned, "mem_total_mb": mem_mb, "python": sys.version.split()[0]}


def refuse_reason() -> str | None:
    if not (ROOT / "accounting_etl_spark" / "session.py").is_file():
        return f"no accounting_etl_spark package under {ROOT}: run from a repository checkout"
    for k in ("SPARK_GRAFT_NO_CHECKPOINT", "SPARK_GRAFT_CHECKPOINT_DIR"):
        if k in os.environ:
            return f"{k} is set; unset it (it changes how iterative operators truncate lineage)"
    return None


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc. Each process
    counts its proportional share (Pss) of the pages it shares: forked
    Python workers share most of their daemon's pages, and summing
    their full RSS counted those once per live worker, moving the peak
    by ~70% between runs."""

    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_ev = threading.Event()

    @staticmethod
    def tree_pss_kb() -> int:
        parent: dict[int, int] = {}
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    with open(f"/proc/{p}/stat") as f:
                        parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            kids = [c for c, pp in parent.items() if pp in frontier and c not in tree]
            tree.update(kids)
            frontier = kids

        def exe(pid: int) -> str:
            try:
                return os.readlink(f"/proc/{pid}/exe")
            except OSError:
                return ""

        total = 0
        for pid in tree:
            # A program the JVM spawns (Hadoop's local file system runs
            # chmod for files it writes) shares the JVM's address space
            # until it execs and reads back the JVM's whole Pss: counted,
            # it doubled the peak in 2 of 5 runs.
            e = exe(pid)
            if not e or (pid != os.getpid() and os.path.basename(e) == "java" and e == exe(parent[pid])):
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._stop_ev.wait(self.interval):
            self.peak_kb = max(self.peak_kb, self.tree_pss_kb())

    def stop(self) -> float:
        self._stop_ev.set()
        self.join()
        return self.peak_kb / 1024


def start_session():
    from accounting_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and, through it, the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup_probe() -> None:
    """Child mode: time process start -> ready session, print it."""
    spark = start_session()
    age = process_age()
    stop_session(spark)
    print(json.dumps({"session_s": age}))


def child_setup_sample(work: Path) -> float:
    env = dict(os.environ, TMPDIR=str(work / "tmp"), SPARK_LOCAL_DIRS=str(work / "local"))
    env["PYSPARK_SUBMIT_ARGS"] = "pyspark-shell"
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--setup-probe"],
        env=env, cwd=str(ROOT), capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["session_s"]


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``beyond`` samples above it, or a quarter of them (at least one)
    when there are too few; a single sample is its own tail."""
    s = sorted(samples)
    n = len(s)
    above = max(1, min(beyond, n // 4))
    if n <= above:
        return s[-1], 100.0
    return s[n - 1 - above], 100.0 * (n - above) / n


def clean_between_passes(spark) -> None:
    """No pass may see an earlier pass's cached frames or scratch
    state: drop the cache, the session's scratch directory, and let the
    JVM collect unreachable checkpoint blocks."""
    import tempfile

    spark.catalog.clearCache()
    shutil.rmtree(
        os.path.join(tempfile.gettempdir(), "etl_spark_state", spark.sparkContext.applicationId),
        ignore_errors=True,
    )
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    reason = refuse_reason()
    if reason:
        print(f"perfbench: refusing to run: {reason}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.setup_probe:
        setup_probe()
        return 0

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path) -> int:
    from perfbench import workloads
    from perfbench.metrics import layer_metrics, rows_for

    env = hermetic_env(work, bool(args.trace))
    rss = RssSampler()
    rss.start()
    spark = start_session()
    session_s = [process_age()]

    from tools.host_probe import probe_host

    from perfbench.trace import Tracer, read_event_log

    probe_start = probe_host(spark)
    tracer = Tracer(spark, enabled=bool(args.trace))
    if args.trace:
        import importlib

        for mod, attr, name, mat in workloads.TRACE_WRAPS[args.workload]:
            tracer.wrap(importlib.import_module(mod), attr, name, materialize=mat)
    w = workloads.WORKLOADS[args.workload](spark, tracer, str(work), SIZES[args.workload])
    warmup = WARMUP_PASSES.get(args.workload, DEFAULT_WARMUP_PASSES)
    if args.workload == "incremental_ingest":
        measured = max(MIN_MEASURED_PASSES, round(MEASURED_EPOCHS_PER_S * args.seconds))
        w.sizes = dict(w.sizes, epochs=1 + warmup + measured)
    w.prepare(args.seed)
    t0 = time.perf_counter()
    w.system_setup()
    system_s = time.perf_counter() - t0

    passes: list[dict] = []
    stored = 0
    problems: list[str] = []
    attempted = failed = 0
    measure_start = 0.0
    i = 0
    while True:
        if args.workload == "incremental_ingest":
            if i >= w.sizes["epochs"]:
                break
        elif (
            i - 1 - warmup >= MIN_MEASURED_PASSES
            and time.perf_counter() - measure_start >= args.seconds
        ):
            break
        # traced runs alternate traced and untraced warm passes, so the
        # tracing overhead is measured inside one process
        traced = bool(args.trace) and (i == 0 or i % 2 == 1)
        tracer.enabled = traced
        t = time.perf_counter()
        ops: list[float] = []
        err = None
        with tracer.span("pass") as root:
            try:
                ops = w.run_pass(i)
            except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
                err = traceback.format_exc()
        dt = time.perf_counter() - t
        tracer.enabled = False
        if i == warmup:
            measure_start = time.perf_counter()
        p = [f"pass {i}: {err.strip().splitlines()[-1]}"] if err else []
        if err:
            print(err, file=sys.stderr)
        else:
            p += [f"pass {i}: {x}" for x in w.check(i)]
        n_ops = max(1, len(ops))
        attempted += n_ops
        failed += min(n_ops, w.failed_ops(p) if not err else n_ops)
        problems += p
        rec = {"i": i, "s": dt, "ops": ops or [dt], "traced": traced}
        if traced:
            rec["root"] = root["id"]
            rec["counters"] = w.counters(i) if not err else {}
        passes.append(rec)
        if not err:
            stored = w.stored_bytes(i)
        w.discard(i)
        clean_between_passes(spark)
        i += 1
    final = w.final_check()
    if final:
        problems += final
        failed = min(attempted, failed + 1)

    probe_end = probe_host(spark)
    app_id = spark.sparkContext.applicationId
    stop_session(spark)
    peak_rss_mb = rss.stop()
    for _ in range(SETUP_SAMPLES - 1):
        session_s.append(child_setup_sample(work))

    measured = passes[1 + warmup:]
    pass_s = statistics.median(p["s"] for p in measured)
    ops = [x for p in measured for x in p["ops"]]
    tail_v, tail_pct = tail(ops)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "sizes": w.sizes, "items": w.items, "unit": w.unit,
        "host_probe": {"start": probe_start, "end": probe_end},
        "session_s": session_s, "system_s": system_s,
        "pass_s": [p["s"] for p in passes], "warmup_passes": warmup,
        "measured_passes": len(measured), "op_samples": len(ops),
        "epoch_ms_tail_percentile": tail_pct,
        "cold_pass_s": {"value": passes[0]["s"], "unit": "s"},
        "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
        "problems": problems[:20],
    }
    if args.trace:
        engine = read_event_log(str(work / "eventlog"))
        metrics = layer_metrics(args.workload, tracer, measured, engine, probe_end)
        record["moves"] = {name: moves for name, _, _, moves in rows_for(args.workload)}
        out = ROOT / ".perfbench_out" / f"spans-{args.workload}-{args.seed}-{app_id}.json"
        tracer.dump(str(out), {"record": record, "engine_by_span": engine})
        record["spans_file"] = str(out.relative_to(ROOT))
    else:
        values = {
            "setup_s": statistics.median(session_s) + system_s,
            "pass_s": pass_s,
            "items_per_s": w.items / pass_s,
            "epoch_ms_p50": statistics.median(ops) * 1000,
            "epoch_ms_tail": tail_v * 1000,
            "peak_rss_mb": peak_rss_mb,
            "stored_bytes_ratio": stored / w.input_bytes,
        }
        metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

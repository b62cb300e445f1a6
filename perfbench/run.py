"""Dedup engine benchmark: one seeded workload, one command.

    python3 perfbench/run.py --workload {dup-dense,dup-sparse,recrawl} \
        --seed N --seconds S --trace {0,1}

Generates the workload's pages from the seed, hands them to one of the
engine's public entry points at local[$(nproc)] -- `pipeline.run` (whose
stage 0 commits them as the input snapshot) or, for `recrawl`,
`incremental.run_incremental` on a copy of a committed base run -- checks
every timed call against the NumPy oracle, and prints a report line
followed by one result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, measured with
tracing off. With `--trace 1` they are the per-layer ones: the first call
runs under the layer tracer (perfbench/spans.py), and the Spark-free
kernel microbench (perfbench/kernels.py) runs after the calls. See
perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyspark  # noqa: E402

from dedup import incremental, pipeline, stages  # noqa: E402
from dedup.catalog import Warehouse  # noqa: E402
from dedup.config import DEFAULT  # noqa: E402
from dedup.session import build_session  # noqa: E402
from dedup.spark_metrics import shuffle_totals  # noqa: E402
from dedup.synth import pages_schema  # noqa: E402
from perfbench import check, kernels, spans, workloads  # noqa: E402

#: corpus generation runs this many times per run and its median enters
#: setup_s. The Spark session (a JVM start) is started once per run: each
#: extra start and stop costs 7-12 s on a 4-core host, and a run must stay
#: near a minute.
SETUP_REPEATS = 3
#: one timed call per this many seconds of --seconds, at least one. The
#: count depends only on the arguments, never on how fast calls run, so
#: every run has the same mix of cold and warm calls. The first call in a
#: JVM is cold and takes 20-70 s on a 4-core host.
SECONDS_PER_CALL = 30
RSS_SAMPLE_S = 0.1
RSS_RESCAN_EVERY = 10
#: The corpora are small, so the heap the JVM grows into is mostly
#: garbage that no collection has needed back, and how far it grew moved
#: the peak RSS of identical calls by up to 28%. The heap is therefore
#: fixed and touched at start: peak_rss_mb varies with the JVM's off-heap
#: memory and the Python workers, and heap pressure shows as GC time.
JVM_HEAP = "1g"
JVM_OPTIONS = f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch"
#: Host steal (time the hypervisor gives other tenants' VMs) stretches
#: what a run measures, and on a shared 4-core VM it moves from run to run.
#: Over 31 runs of the three workloads, log(wall seconds) of the timed call
#: and of the session start rose by 2.5-3.0 per unit of the host's steal
#: share during them (a stage waits for its slowest task, so steal on any
#: core stretches it), and log(CPU seconds) by about 1.0. The bounded
#: times are divided by exp(slope * steal share); the raw ones stay in the
#: report.
STEAL_SLOPE_WALL = 2.5
STEAL_SLOPE_CPU = 1.0
#: run_id of the timed call; names recrawl's delta tables
RUN_ID = "timed"


def steal_adjusted(seconds: float, steal_share: float, slope: float) -> float:
    return seconds * math.exp(-slope * steal_share)


def host_stamp() -> dict:
    """The raw `scripts/bench_scaling.host_canary()` scores (~4 s of
    matmul and memcopy, run before Spark starts), load average, core count
    and versions."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from bench_scaling import host_canary

    return {
        "host_canary": host_canary(),
        "loadavg": list(os.getloadavg()),
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": np.__version__,
    }


# -- the Spark JVM and its Python workers, from /proc ---------------------------
def _stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first), or
    None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        st = _stat(name) if name.isdigit() else None
        if st:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pids: list[int]) -> list[int]:
    page = os.sysconf("SC_PAGE_SIZE")
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                out.append(int(f.read().split()[1]) * page)
        except OSError:
            pass
    return out


def cpu_seconds() -> float:
    """CPU time (user + sys, reaped children included) of this process and
    its descendants: the Spark JVM, the Python workers and the Python
    side of the engine that runs in this process."""
    tick = os.sysconf("SC_CLK_TCK")
    total = time.process_time()
    for p in _descendants(os.getpid()):
        st = _stat(p)
        if st:
            total += sum(int(x) for x in st[11:15]) / tick  # utime stime cutime cstime
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class PeakRss:
    """Samples the summed RSS of this process's descendants (the Spark
    Spark JVM and its Python workers) until the block exits."""

    def __init__(self):
        self.peak = 0
        self.procs_at_peak = 0
        self.largest_at_peak = 0  # the Spark JVM
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me, pids, n = os.getpid(), [], 0
        while True:
            if n % RSS_RESCAN_EVERY == 0:  # the /proc walk costs more than a sample
                pids = _descendants(me)
            n += 1
            rss = _rss_bytes(pids)
            if sum(rss) > self.peak:
                self.peak, self.procs_at_peak, self.largest_at_peak = sum(rss), len(rss), max(rss)
            if self._stop.wait(RSS_SAMPLE_S):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    """Running, i.e. neither gone nor a zombie awaiting its reaper."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def start_spark(nproc: int):
    """(session, seconds to start it). Starts a fresh JVM."""
    t0 = time.monotonic()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={"spark.driver.extraJavaOptions": JVM_OPTIONS},
    )
    return spark, time.monotonic() - t0


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait until the Spark JVM and every Python worker it
    started have exited (the JVM exits on EOF on its stdin pipe). The next
    `start_spark` then launches a new JVM."""
    from pyspark import SparkContext

    spark.stop()
    pids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            raise TimeoutError(f"Spark processes still running: {pids}")
        time.sleep(0.1)
    if gateway is not None:
        gateway.close()
    SparkContext._gateway = SparkContext._jvm = None


def _wh(root: str) -> Warehouse:
    return Warehouse(root, DEFAULT.config_hash(), "bench")


#: per workload kind, the committed table each layer's rows are read from.
#: Verify keeps one row per candidate, and an increment commits only its
#: verified delta, so recrawl's candidate count is read from that.
TABLES = {
    "run": {
        "pages": "pages",
        "signatures": "signatures",
        "candidates": "candidate_pairs",
        "verify": "verified_pairs",
        "canonical": "canonical_pages",
    },
    "incremental": {
        "pages": f"pages_delta_{RUN_ID}",
        "signatures": f"signatures_delta_{RUN_ID}",
        "candidates": f"verified_pairs_delta_{RUN_ID}",
        "verify": f"verified_pairs_delta_{RUN_ID}",
        "canonical": "canonical_pages",
    },
}


def read_table(root: str, table: str, columns: list[str]):
    """A committed table, read Spark-free (pyarrow skips `_MANIFEST.json`)."""
    wh = _wh(root)
    if not wh.is_complete(table):
        raise FileNotFoundError(f"{table} not committed under {root}")
    return pd.read_parquet(wh.path(table), columns=columns)


class Bench:
    def __init__(self, name: str, seed: int, work: str):
        self.name, self.seed, self.work = name, seed, work
        self.kind = "incremental" if name == "recrawl" else "run"
        self.tables = TABLES[self.kind]
        self.calls: list[dict] = []

    def generate(self) -> list[float]:
        """Generate the input SETUP_REPEATS times; returns the times."""
        times = []
        for k in range(SETUP_REPEATS):
            t0 = time.monotonic()
            self.wl = workloads.build(self.name, self.seed, os.path.join(self.work, f"gen{k}"))
            times.append(time.monotonic() - t0)
        return times

    def base_warehouse(self, nproc: int) -> dict:
        """recrawl: the committed base run, built once per checkout and
        engine source (in a JVM of its own, outside all timings) and kept
        under .cache/."""
        path = os.path.join(check.CACHE, f"recrawl-base-{check.source_hash(ROOT)}")
        self.base_root = path
        if os.path.exists(path):
            return {"cached": True}
        spark, _ = start_spark(nproc)
        tmp = os.path.join(self.work, "base")
        try:
            t0 = time.monotonic()
            pages = spark.createDataFrame(self.wl.base, schema=pages_schema())
            pipeline.run(spark, pages, DEFAULT, tmp, run_id="base")
            built_s = time.monotonic() - t0
        finally:
            stop_spark(spark)
        os.makedirs(check.CACHE, exist_ok=True)
        try:
            os.rename(tmp, path)
        except OSError:  # built meanwhile by another run
            if not os.path.exists(path):
                raise
        return {"cached": False, "s": built_s}

    def _call(self, spark, pages, root: str):
        if self.kind == "run":
            return pipeline.run(spark, pages, DEFAULT, root, run_id=RUN_ID)
        return incremental.run_incremental(spark, pages, DEFAULT, root, run_id=RUN_ID)

    def timed_call(self, spark, i: int, oracle, trace: bool) -> tuple[dict, spans.Tracer]:
        """One cold call into a fresh warehouse (for recrawl, a fresh copy
        of the base run), then the correctness gate."""
        root = os.path.join(self.work, f"call{i}")
        if self.kind == "incremental":
            shutil.copytree(self.base_root, root)
        rec = {"call": i, "traced": trace, "root": root}
        pages = spark.createDataFrame(self.wl.pages, schema=pages_schema())
        tracer = spans.Tracer(spark, full=trace)
        name = "pipeline.run" if self.kind == "run" else "incremental.run_incremental"
        sh0 = shuffle_totals(spark).get("shuffle_write_bytes", 0)
        try:
            with PeakRss() as rss:
                c0, k0, t0 = cpu_seconds(), cpu_ticks(), time.monotonic()
                tracer.call(name, self._call, spark, pages, root)
                rec["wall_s"] = time.monotonic() - t0
                rec["cpu_s"] = cpu_seconds() - c0
                k1 = cpu_ticks()
                rec["host_steal_share"] = (k1[0] - k0[0]) / max(1, k1[1] - k0[1])
            sh1 = shuffle_totals(spark).get("shuffle_write_bytes", 0)
            rec["shuffle_mb"] = (sh1 - sh0) / 1e6
            rec["peak_rss_mb"] = rss.peak / 1e6
            rec["procs_at_peak"] = rss.procs_at_peak
            rec["jvm_rss_mb_at_peak"] = rss.largest_at_peak / 1e6
            rec["cc_path"] = tracer.cc_path()
            rec.update(self._verify(root, oracle))
            rec["props"]["dropped_keys"] = self.dropped_keys(spark, root)
        except Exception as exc:  # a failed call counts in error_rate
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}")
        self.calls.append(rec)
        return rec, tracer

    def dropped_keys(self, spark, root: str) -> int:
        """Bucket keys over the cap. A full run commits them; an increment
        does not, so stage 3 is re-run, outside the timing, on the
        committed base and delta tables the increment read."""
        wh = _wh(root)
        if self.kind == "run":
            return wh.manifest("dropped_buckets")["rows"]
        sig_new = wh.read(spark, self.tables["signatures"])
        sig = wh.read(spark, "signatures").unionByName(sig_new)
        buckets = wh.read(spark, "buckets").unionByName(
            wh.read(spark, f"buckets_delta_{RUN_ID}")
        )
        cand = stages.stage3_candidates(sig, buckets, DEFAULT, new_urls=sig_new.select("url"))
        try:
            return cand.dropped_buckets.count()
        finally:
            cand.entries.unpersist()
            cand.counts.unpersist()

    def _verify(self, root: str, oracle) -> dict:
        wh = _wh(root)
        clusters = read_table(root, "clusters", ["url", "cluster_id"])
        out = check.compare(clusters, oracle, self.wl.truth_pairs)
        verified = read_table(root, self.tables["verify"], ["url_a", "url_b", "is_dup"])
        new = set(self.wl.pages["url"])
        n = len(new)
        in_pair = new & (set(verified.loc[verified["is_dup"], "url_a"]) | set(verified.loc[verified["is_dup"], "url_b"]))
        out["props"] = {
            "docs": n,
            "distinct_text_share": self.wl.pages["text"].nunique() / n,
            "candidates_per_doc": wh.manifest(self.tables["candidates"])["rows"] / n,
            "dup_pairs_per_doc": int(verified["is_dup"].sum()) / n,
            "docs_in_pair_share": len(in_pair) / n,
        }
        if self.kind == "incremental":
            out["props"]["base_docs"] = len(self.wl.base)
        return out


def end_to_end(bench: Bench, setup_s: float) -> dict:
    done = [c for c in bench.calls if c.get("ok")]
    if not done:
        return {}
    docs = len(bench.wl.pages)

    def med(key):
        return statistics.median(c[key] for c in done)

    def rate(key, slope):
        return statistics.median(
            docs / steal_adjusted(c[key], c["host_steal_share"], slope) for c in done
        )

    metrics = {
        "adj_docs_per_s": (rate("wall_s", STEAL_SLOPE_WALL), "1/s"),
        "adj_docs_per_cpu_s": (rate("cpu_s", STEAL_SLOPE_CPU), "1/cpu_s"),
        "setup_s": (setup_s, "s"),
        "shuffle_mb": (med("shuffle_mb"), "MB"),
        "peak_rss_mb": (med("peak_rss_mb"), "MB"),
        "pair_recall": (min(c["pair_recall"] for c in done), "1"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def per_layer(bench: Bench, traced: dict, tracer, harvested, kern: dict):
    """Per-layer metrics of the traced call, plus the report extras."""
    jobs, stage_rows = harvested
    by_span = {s["span_id"]: s for s in tracer.spans}
    ncpu = len(os.sched_getaffinity(0))
    wh = _wh(traced["root"])
    n_docs = len(bench.wl.pages)

    def layer_of(span_id):
        return by_span.get(span_id, {"layer": "pipeline"})["layer"]

    def stages_of(js):
        ids = {j["job_id"] for j in js}
        return [s for s in stage_rows if s["job_id"] in ids]

    def wall(js):
        return spans.union_ms((j["start_ms"], j["end_ms"]) for j in js)

    out: dict[str, tuple[float, str]] = {}
    tables = bench.tables
    for st in spans.STAGE_NAMES:
        js = [j for j in jobs if by_span.get(j["span_id"], {}).get("name") == st]
        ss = stages_of(js)
        w, task = wall(js), sum(s["run_ms"] for s in ss)
        p = f"stages.{st}."
        out[p + "wall_ms"] = (w, "ms")
        out[p + "task_ms"] = (task, "ms")
        out[p + "cpu_ms"] = (sum(s["cpu_ms"] for s in ss), "ms")
        out[p + "slot_util"] = (task / (w * ncpu) if w else 0.0, "1")
        out[p + "shuffle_write_mb"] = (sum(s["shuffle_write_b"] for s in ss) / 1e6, "MB")
        out[p + "spill_mb"] = (sum(s["spill_b"] for s in ss) / 1e6, "MB")
        out[p + "fetch_wait_ms"] = (sum(s["fetch_wait_ms"] for s in ss), "ms")
        out[p + "rows"] = (wh.manifest(tables[st])["rows"], "count")

    props = traced["props"]
    verified = read_table(traced["root"], tables["verify"], ["url_a", "url_b", "is_dup", "substr_ok"])
    cand = set(zip(verified["url_a"], verified["url_b"]))
    truth = bench.wl.truth_pairs
    new = set(bench.wl.pages["url"])  # the pairs this call had to find
    medium = truth[(truth["tier"] == "medium") & (truth["url_a"].isin(new) | truth["url_b"].isin(new))]
    med_hits = sum((a, b) in cand for a, b in zip(medium["url_a"], medium["url_b"]))
    n_dup = int(verified["is_dup"].sum())
    out["stages.candidates.per_doc"] = (props["candidates_per_doc"], "1")
    out["stages.candidates.dropped_keys"] = (props["dropped_keys"], "count")
    out["stages.candidates.medium_recall"] = (
        med_hits / len(medium) if len(medium) else 1.0, "1"
    )
    out["stages.verify.dup_yield"] = (n_dup / len(verified) if len(verified) else 0.0, "1")
    out["stages.verify.substr_pairs"] = (int(verified["substr_ok"].sum()), "count")

    cc_jobs = [j for j in jobs if layer_of(j["span_id"]) == "cc"]
    out["cc.wall_ms"] = (wall(cc_jobs), "ms")
    out["cc.task_ms"] = (sum(s["run_ms"] for s in stages_of(cc_jobs)), "ms")
    out["cc.jobs"] = (len(cc_jobs), "count")
    out["cc.edges_in"] = (n_dup, "count")
    out["cc.contracted"] = (int("connected_components_contracted" in traced["cc_path"]), "count")

    commits = [
        s for s in tracer.spans
        if s["name"] in ("catalog.write", "catalog.replace", "catalog.write_metrics_table")
    ]
    main = threading.main_thread().name
    out["catalog.commit_ms"] = (spans.union_ms((s["start_ms"], s["end_ms"]) for s in commits), "ms")
    out["catalog.commit_fg_ms"] = (
        spans.union_ms((s["start_ms"], s["end_ms"]) for s in commits if s["thread"] == main), "ms"
    )
    out["catalog.output_mb"] = (sum(s["output_b"] for s in stage_rows) / 1e6, "MB")
    out["catalog.commits"] = (
        sum(s["name"] in ("catalog.write", "catalog.replace") for s in commits), "count"
    )
    # rows of the global tables an increment rewrites (Warehouse.replace);
    # a full run writes them once, with write(), so it rewrites none
    replaced = any(s["name"] == "catalog.replace" for s in commits)
    rewritten = sum(wh.manifest(t)["rows"] for t in ("clusters", "canonical_pages")) if replaced else 0
    out["catalog.rewrite_rows_per_new_doc"] = (rewritten / n_docs, "1")
    out["incremental.read_rows_per_new_doc"] = (
        sum(s["input_rows"] for s in stage_rows) / n_docs, "1"
    )

    root = tracer.root
    root_ms = root["end_ms"] - root["start_ms"]
    covered = spans.union_ms(
        (max(j["start_ms"], root["start_ms"]), min(j["end_ms"], root["end_ms"]))
        for j in jobs
        if layer_of(j["span_id"]) != "pipeline" and j["end_ms"] is not None
    )
    last_end = max((j["end_ms"] for j in jobs if j["end_ms"] is not None), default=root["end_ms"])
    out["pipeline.jobs"] = (len(jobs), "count")
    out["pipeline.tasks"] = (sum(s["tasks"] for s in stage_rows), "count")
    out["pipeline.failed_tasks"] = (sum(s["failed_tasks"] for s in stage_rows), "count")
    out["pipeline.gc_ms"] = (sum(s["gc_ms"] for s in stage_rows), "ms")
    out["pipeline.tail_ms"] = (max(0.0, root["end_ms"] - last_end), "ms")
    out["pipeline.residual_ms"] = (max(0.0, root_ms - covered), "ms")
    out["pipeline.trace_overhead_ms"] = (1000.0 * tracer.overhead_s, "ms")
    for k, v in kern.items():
        out[k] = (v, "1" if k.endswith("share") else "ms")

    extra = {
        "root_ms": root_ms,
        "residual_share": max(0.0, root_ms - covered) / root_ms,
        "self_ms": spans.self_times(jobs, layer_of),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
    return metrics, extra


def split_conf(spark) -> dict:
    """The session's file-split and Arrow batch settings (kernels.py)."""
    jss = spark._jsparkSession
    conf = jss.sessionState().conf()
    min_parts = conf.filesMinPartitionNum()
    return {
        "max_partition_bytes": conf.filesMaxPartitionBytes(),
        "open_cost_bytes": conf.filesOpenCostInBytes(),
        "min_partitions": min_parts.get() if min_parts.isDefined() else jss.leafNodeDefaultParallelism(),
        "max_records_per_batch": conf.arrowMaxRecordsPerBatch(),
    }


def bench_main(args, work: str) -> tuple[dict, dict]:
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    report["host"] = host_stamp()
    nproc = report["host"]["nproc"]
    bench = Bench(args.workload, args.seed, work)
    gen_s = bench.generate()
    t0 = time.monotonic()
    oracle, cached = check.oracle_clusters(ROOT, bench.wl)
    report["oracle"] = {"cached": cached, "s": time.monotonic() - t0}
    if bench.kind == "incremental":
        report["base"] = bench.base_warehouse(nproc)
    k0 = cpu_ticks()
    spark, session_s = start_spark(nproc)
    k1 = cpu_ticks()
    steal = (k1[0] - k0[0]) / max(1, k1[1] - k0[1])
    setup_s = steal_adjusted(session_s, steal, STEAL_SLOPE_WALL) + statistics.median(gen_s)
    report["setup"] = {
        "session_s": session_s,
        "session_steal_share": steal,
        "gen_s": gen_s,
        "setup_s": setup_s,
    }
    try:
        n_calls = max(1, int(args.seconds // SECONDS_PER_CALL))
        first, tracer = bench.timed_call(spark, 0, oracle, bool(args.trace))
        # harvest before any later call, whose jobs could run on a JVM
        # thread that still carries a traced group
        harvested = tracer.harvest() if args.trace else None
        for i in range(1, n_calls):
            bench.timed_call(spark, i, oracle, False)
        if args.trace:
            metrics = {}  # a failed call leaves nothing to attribute
            if first.get("ok"):
                pages_dir = _wh(first["root"]).path(bench.tables["pages"])
                kern, layout = kernels.microbench(pages_dir, DEFAULT, split_conf(spark))
                metrics, extra = per_layer(bench, first, tracer, harvested, kern)
                jobs, stage_rows = harvested
                trace_dir = os.path.join(HERE, ".traces")
                os.makedirs(trace_dir, exist_ok=True)
                span_file = os.path.join(trace_dir, f"{args.workload}-{args.seed}-{tracer.run_id}.jsonl")
                tracer.write(span_file, jobs, stage_rows)
                report["trace"] = {"spans": os.path.relpath(span_file, ROOT), "kernel_input": layout, **extra}
        else:
            metrics = end_to_end(bench, setup_s)
    finally:
        stop_spark(spark)
    failed = sum(not c.get("ok") for c in bench.calls)
    report["calls"] = bench.calls
    walls = [c["wall_s"] for c in bench.calls if "wall_s" in c]
    report["samples"] = len(walls)
    if walls:
        docs = len(bench.wl.pages)
        report["docs_per_s"] = docs / statistics.median(walls)
        report["docs_per_cpu_s"] = statistics.median(docs / c["cpu_s"] for c in bench.calls if "cpu_s" in c)
    report["error_rate"] = failed / len(bench.calls)
    result = {"correct": failed == 0, "attempted": len(bench.calls), "failed": failed, "metrics": metrics}
    return report, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=SECONDS_PER_CALL)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file Spark, the JVM and the Python workers write stays inside
    # the checkout; the workers import `dedup` from it
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    try:
        report, result = bench_main(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

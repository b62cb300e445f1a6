"""End-to-end dedup pipeline orchestration with checkpoint/resume and
per-partition metrics (SURVEY.md §3.2; BASELINE.json:6).

Every stage writes its output table + commit manifest through
catalog.Warehouse, then the next stage reads the committed table back —
the write/read boundary is simultaneously the resume point, the lineage
cut, and where per-partition metrics are harvested (one parquet file per
write task = one partition's lineage record).

Resume semantics: `run(..., resume=True)` skips any stage whose table has
a committed manifest for the SAME config_hash; a crash mid-stage leaves no
manifest, so the stage reruns from its (committed) inputs. tests/test_resume
proves a killed-after-stage-k run resumes to byte-identical final tables.

`run()` is the one orchestration path: jobs/run_dedup.py, bench.py,
perfbench, streaming's bootstrap batch and the driver contract
(__spark_entry__.py, into a temporary warehouse) all call it.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import stages
from .catalog import Warehouse
from .cc import (
    LOCAL_CC_MAX_EDGES,
    connected_components,
    connected_components_contracted,
)
from .config import DedupConfig

STAGE_ORDER = [
    "pages",
    "signatures",
    "buckets",
    "candidate_pairs",
    "dropped_buckets",
    "verified_pairs",
    "clusters",
    "canonical_pages",
]

@dataclass
class RunResult:
    warehouse: Warehouse
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)

    def df(self, spark: SparkSession, table: str) -> DataFrame:
        return self.warehouse.read(spark, table)


def _partition_metrics(path: str) -> list[dict]:
    """Per-file (= per write-task partition) rows/bytes from parquet
    footers — the per-partition lineage record (S4/U5)."""
    import pyarrow.parquet as pq

    out = []
    files = sorted(
        os.path.join(dp, fn)
        for dp, _d, fns in os.walk(path)
        for fn in fns
        if fn.endswith(".parquet")
    )
    for i, f in enumerate(files):
        md = pq.ParquetFile(f).metadata
        out.append(
            {
                "partition_id": i,
                "file": os.path.relpath(f, path),
                "rows": md.num_rows,
                "bytes": os.path.getsize(f),
            }
        )
    return out


def _clusters(
    dup: DataFrame,
    urls: DataFrame,
    shas: DataFrame,
    cfg: DedupConfig,
    n_pairs: int,
    n_docs: int,
) -> DataFrame:
    """Stage 5, with the size-based CC plan choice: the exact-dup
    contraction costs two extra joins and a second CC input prep, which
    only pays when verified pairs dwarf docs — the dup-heavy regime it
    exists for (the replicated bench corpus runs ~32 pairs/doc; a
    lightly-duplicated corpus runs ~3). `shas` is (url, text_sha)."""
    if n_pairs > 8 * n_docs:
        return connected_components_contracted(
            dup, urls, shas, cfg, local_max_edges=LOCAL_CC_MAX_EDGES
        )
    return connected_components(
        dup, urls, cfg, local_max_edges=LOCAL_CC_MAX_EDGES
    )


def run(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig,
    warehouse_root: str,
    run_id: str | None = None,
    resume: bool = True,
    stop_after: str | None = None,
) -> RunResult:
    """Run (or resume) the full dedup pipeline.

    pages: DataFrame with the mandated shape (url, warc_ts, html, text,
    lang). stop_after: stage name to halt after (kill/resume tests).
    Holds the warehouse's single-writer lease for the duration
    (re-entrant, so streaming's foreachBatch can call this under its own
    lease; a concurrent second writer fails fast with LeaseHeldError).
    """
    wh = Warehouse(
        root=warehouse_root,
        config_hash=cfg.config_hash(),
        run_id=run_id or uuid.uuid4().hex[:12],
    )
    with wh.lease():
        return _run_locked(spark, pages, cfg, wh, resume, stop_after)


def _run_locked(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig,
    wh: Warehouse,
    resume: bool,
    stop_after: str | None,
) -> RunResult:
    if not resume and wh.is_complete("pages"):
        # Callers (jobs/run_dedup.py, bench.py) pass `pages` read from this
        # warehouse's own pages table; resume=False would overwrite the path
        # being read from (Spark error or data loss). A non-resume rerun
        # needs a fresh warehouse root.
        raise ValueError(
            f"resume=False on a warehouse that already has a committed pages "
            f"table ({wh.root}); use a fresh warehouse root"
        )
    res = RunResult(warehouse=wh)

    import threading

    metrics_lock = threading.Lock()
    metrics_threads: list[threading.Thread] = []
    metrics_rows: list[dict] = []

    def do_stage(name: str, build, partition_by=None, wall_add_ms: int = 0) -> bool:
        """Returns True if the caller should stop (stop_after hit).

        wall_add_ms: foreground compute time already spent materializing
        this stage's relation (the pipelined-commit path materializes via
        persist+count on the critical path and commits the table in a
        background thread; the stage's metrics row should still carry
        compute + write, not just the cache-read + file IO of the write).
        """
        if resume and wh.is_complete(name):
            res.stages_skipped.append(name)
            return stop_after == name
        t0 = time.monotonic()
        df = build()
        manifest = wh.write(df, name, partition_by=partition_by)
        wall_ms = wall_add_ms + int((time.monotonic() - t0) * 1000)

        # Per-partition lineage harvest (footer scan) runs in a background
        # thread: stage k+1's Spark work overlaps stage k's metrics IO
        # instead of serializing behind it (VERDICT r1 serial-fraction
        # item). Only local pyarrow/file IO happens off-thread — no Spark
        # calls. Threads are joined before run() returns.
        # cumulative session shuffle/IO snapshot at this stage's commit —
        # measured counterpart of docs/SCALE.md's analytic shuffle budget
        # (per-stage deltas are approximate under pipelined bg commits;
        # the cumulative series and final totals are exact)
        from .spark_metrics import shuffle_totals

        shuf = {f"cum_{k}": v for k, v in shuffle_totals(spark).items()}

        def harvest(path=wh.path(name), stage=name, wall=wall_ms, man=manifest):
            parts = _partition_metrics(path)
            rows = [
                {
                    "run_id": wh.run_id,
                    "stage": stage,
                    "wall_ms": wall,
                    "config_hash": wh.config_hash,
                    "ts": man["written_at"],
                    **shuf,
                    **p,
                }
                for p in parts
            ]
            with metrics_lock:
                metrics_rows.extend(rows)
                wh.append_metrics(spark, rows)

        th = threading.Thread(target=harvest, daemon=True)
        th.start()
        metrics_threads.append(th)
        res.stages_run.append(name)
        return stop_after == name

    # -- pipelined commits ---------------------------------------------------
    # A stage's COMPUTE runs on the critical path (persist + count); its
    # table write + manifest commit runs in a background thread while the
    # next stage's compute proceeds from the cached relation. The committed
    # table stays the resume boundary (a resumed run reads it back), but a
    # healthy run never serializes behind file IO + commit barriers — the
    # Amdahl serial fraction the N->4N scaling efficiency is most sensitive
    # to (docs/SCALE.md). Background failures are re-raised at the next
    # join point; every thread is joined before run() returns.
    bg_threads: list[threading.Thread] = []
    bg_errors: list[BaseException] = []
    pinned = []  # persisted DataFrames to release before returning

    def bg_commit(name: str, df, partition_by=None, wall_add_ms: int = 0):
        def _w():
            try:
                do_stage(name, lambda: df, partition_by, wall_add_ms)
            except BaseException as exc:
                bg_errors.append(exc)

        th = threading.Thread(target=_w, daemon=True)
        th.start()
        bg_threads.append(th)

    def join_bg() -> None:
        while bg_threads:
            bg_threads.pop().join()
        if bg_errors:
            raise bg_errors[0]

    def _unpin() -> None:
        while pinned:
            pinned.pop().unpersist()

    def _finish() -> RunResult:
        for th in bg_threads:
            th.join()
        for th in metrics_threads:
            th.join()
        _unpin()
        if bg_errors:
            raise bg_errors[0]
        # S4: this run's metrics also land as a Spark-written parquet
        # table (one append per run, not per stage)
        wh.write_metrics_table(spark, metrics_rows)
        return res

    # stage 0: snapshot the input (the Iceberg table stand-in; byte-identity
    # of `text` is checked against THIS table by the invariant tests).
    # The snapshot is partitioned by warc_day — the filesystem stand-in
    # for Iceberg's days(warc_ts) partition transform (SURVEY §2.7 F10):
    # incremental window reads prune to the matching day directories
    # (plan-asserted in tests/test_partitioning.py).
    def build_pages() -> DataFrame:
        if "warc_day" in pages.columns or "warc_ts" not in pages.columns:
            return pages
        return pages.withColumn("warc_day", F.to_date("warc_ts"))

    pages_partition = (
        ["warc_day"]
        if ("warc_ts" in pages.columns or "warc_day" in pages.columns)
        else None
    )
    if do_stage("pages", build_pages, partition_by=pages_partition):
        return _finish()

    from pyspark import StorageLevel

    pages_t = wh.read(spark, "pages")

    def committed(name: str) -> bool:
        return resume and wh.is_complete(name)

    # -- stages 1+2 (fused) -------------------------------------------------
    # When either table is uncommitted, ONE Arrow pass (stages.stage12_fused)
    # computes both; persist+count materializes it on the critical path and
    # the missing tables' writes are background cache-read + file IO. The
    # pass is deterministic, so a resumed run that commits only one of the
    # two writes the same values an uninterrupted run would.
    need_sig = not committed("signatures")
    need_buk = not committed("buckets")
    fused = None
    add = 0  # fused compute ms, charged to the first table committed
    if need_sig or need_buk:
        fused = stages.stage12_fused(pages_t, cfg).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        pinned.append(fused)
        t0 = time.monotonic()
        fused.count()
        add = int((time.monotonic() - t0) * 1000)
    if need_sig:
        bg_commit("signatures", stages.signatures_from_fused(fused), wall_add_ms=add)
        add = 0
    else:
        do_stage("signatures", None)  # records skip
    if stop_after == "signatures":
        return _finish()
    if need_buk:
        # cheap JVM explode over the fused cache — evaluated by the
        # background write and (again, from cache) by stage 3
        bg_commit("buckets", stages.buckets_from_fused(fused), wall_add_ms=add)
        buckets = stages.buckets_from_fused(fused)
    else:
        do_stage("buckets", None)
        buckets = wh.read(spark, "buckets")
    if stop_after == "buckets":
        return _finish()

    sigs = (
        stages.signatures_from_fused(fused)
        if fused is not None
        else wh.read(spark, "signatures")
    )

    # -- stage 3 (candidates + dropped buckets) -----------------------------
    if committed("candidate_pairs"):
        do_stage("candidate_pairs", None)
        cand_out = None
        candidates = wh.read(spark, "candidate_pairs")
    else:
        cand_out = stages.stage3_candidates(sigs, buckets, cfg)
        candidates = cand_out.candidates.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(candidates)
        t0 = time.monotonic()
        candidates.count()
        add = int((time.monotonic() - t0) * 1000)
        bg_commit("candidate_pairs", candidates, wall_add_ms=add)
    if stop_after == "candidate_pairs":
        if cand_out is not None:
            join_bg()
            cand_out.entries.unpersist()
        return _finish()

    # The dropped-buckets table is a filter over stage 3's persisted counts
    # relation and nothing downstream reads it — its write rides in the
    # background too (recomputed from committed inputs if stage 3 was
    # skipped on resume).
    if committed("dropped_buckets"):
        do_stage("dropped_buckets", None)
    elif cand_out is not None:
        bg_commit("dropped_buckets", cand_out.dropped_buckets)
    else:
        # resume shape: candidates committed, dropped not — recompute the
        # counts pass from committed inputs, release its intermediates
        cand2 = stages.stage3_candidates(sigs, buckets, cfg)
        do_stage("dropped_buckets", lambda: cand2.dropped_buckets)
        cand2.entries.unpersist()
    if stop_after == "dropped_buckets":
        if cand_out is not None:
            join_bg()
            cand_out.entries.unpersist()
        return _finish()

    # -- stage 4 (verify) ---------------------------------------------------
    # By the time verify's (long) compute finishes, every upstream write
    # has landed; join_bg() after materialization re-raises any background
    # failure and lets the stage-3 intermediates + fused cache go.
    if committed("verified_pairs"):
        do_stage("verified_pairs", None)
        join_bg()
        verified = wh.read(spark, "verified_pairs")
        n_pairs = (wh._read_manifest("verified_pairs") or {}).get("rows", 0)
    else:
        verified = stages.stage4_verify(candidates, sigs, pages_t, cfg).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        pinned.append(verified)
        t0 = time.monotonic()
        n_pairs = verified.count()
        add = int((time.monotonic() - t0) * 1000)
        join_bg()
        bg_commit("verified_pairs", verified, wall_add_ms=add)
    if cand_out is not None:
        cand_out.entries.unpersist()
    if stop_after == "verified_pairs":
        return _finish()

    # -- stage 5 (clusters) -------------------------------------------------
    # The contracted path's sha_map reads the committed signatures table
    # (its write joined above) so the fused cache can be released before
    # the CC iteration chain starts.
    sigs_com = wh.read(spark, "signatures")
    if fused is not None:
        fused.unpersist()
        pinned.remove(fused)

    if committed("clusters"):
        do_stage("clusters", None)
        join_bg()
        clusters = wh.read(spark, "clusters")
    else:
        n_docs = max(1, (wh._read_manifest("pages") or {}).get("rows", 1))
        t0 = time.monotonic()
        clusters = _clusters(
            verified.filter("is_dup").select("url_a", "url_b"),
            pages_t.select("url"),
            sigs_com.select("url", "text_sha"),
            cfg,
            n_pairs=n_pairs,
            n_docs=n_docs,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(clusters)
        clusters.count()
        add = int((time.monotonic() - t0) * 1000)
        bg_commit("clusters", clusters, wall_add_ms=add)
    if stop_after == "clusters":
        return _finish()

    # -- stage 6 (canonical) ------------------------------------------------
    # Last table: nothing overlaps it, so it commits in the foreground.
    do_stage(
        "canonical_pages",
        lambda: stages.stage6_canonical(clusters, pages_t),
        partition_by=(
            ["warc_day"] if "warc_day" in pages_t.columns else None
        ),
    )
    return _finish()

"""Spark-free microbench of the Python kernels a stage-1/2 task runs.

Input: a committed snapshot's parquet files, grouped into the scan
partitions Spark's file source would build for them, and each partition
cut into Arrow batches of at most `maxRecordsPerBatch` rows, the way
`mapInPandas` feeds one task. `scan_partitions` follows Spark's
`FilePartition.maxSplitBytes` / `getFilePartitions`: files are cut into
splits of at most maxSplitBytes (a parquet row group goes to the split
holding its midpoint), the splits are sorted by length, largest first,
and packed in that order into partitions, each closed before it would
pass maxSplitBytes, every split also charging `openCostInBytes`.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq

from dedup import features, hashing, udfs

REPEATS = 3


def _row_groups(path: str) -> list[tuple[int, float]]:
    """(index, byte midpoint) of each row group of a parquet file."""
    meta = pq.ParquetFile(path).metadata
    out = []
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        cols = [rg.column(c) for c in range(rg.num_columns)]
        start = min(
            c.dictionary_page_offset if c.has_dictionary_page else c.data_page_offset
            for c in cols
        )
        out.append((i, start + sum(c.total_compressed_size for c in cols) / 2))
    return out


def scan_partitions(table_dir: str, conf: dict) -> list[list[tuple[str, list[int]]]]:
    """Spark's scan partitions of a table: per partition, the
    (file, row groups) splits in the order the task reads them. conf keys:
    max_partition_bytes, open_cost_bytes, min_partitions."""
    files = sorted(
        os.path.join(dp, fn)
        for dp, _d, fns in os.walk(table_dir)
        for fn in fns
        if fn.endswith(".parquet")
    )
    sizes = {f: os.path.getsize(f) for f in files}
    open_cost = conf["open_cost_bytes"]
    per_core = sum(s + open_cost for s in sizes.values()) / conf["min_partitions"]
    max_split = min(conf["max_partition_bytes"], max(open_cost, per_core))
    splits = []  # (length, file, row groups)
    for f in files:
        groups = _row_groups(f)
        off = 0
        while off < sizes[f]:
            length = min(max_split, sizes[f] - off)
            rgs = [i for i, mid in groups if off <= mid < off + length]
            splits.append((length, f, rgs))
            off += length
    splits.sort(key=lambda s: -s[0])  # stable: ties keep file order
    parts, cur, size = [], [], 0
    for length, f, rgs in splits:
        if cur and size + length > max_split:
            parts.append(cur)
            cur, size = [], 0
        size += length + open_cost
        cur.append((f, rgs))
    if cur:
        parts.append(cur)
    return parts


def task_batches(table_dir: str, conf: dict) -> tuple[list[pd.DataFrame], int]:
    """The Arrow batches the stage-1/2 tasks receive (url, text), and the
    number of scan partitions. conf adds max_records_per_batch."""
    parts = scan_partitions(table_dir, conf)
    cap = conf["max_records_per_batch"]
    out = []
    for part in parts:
        frames = [
            pq.ParquetFile(f).read_row_groups(rgs, columns=["url", "text"]).to_pandas()
            for f, rgs in part
            if rgs
        ]
        if not frames:
            continue
        rows = pd.concat(frames, ignore_index=True)
        rows = rows[rows["text"].notna()]
        out.extend(rows.iloc[i : i + cap] for i in range(0, len(rows), cap))
    return [b for b in out if len(b)], len(parts)


def _median_s(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def microbench(table_dir: str, cfg, conf: dict) -> tuple[dict[str, float], dict]:
    """(per-layer kernel metrics, batch layout for the report)."""
    batches, n_parts = task_batches(table_dir, conf)
    rows = sum(len(b) for b in batches)
    a, b = features.minhash_params(cfg)
    texts = [bt["text"].tolist() for bt in batches]
    feats = [features.batch_doc_features(t, cfg, a, b) for t in texts]
    mats = [(f.minhash, f.runnerup) for f in feats if f is not None]
    fused = udfs.make_fused_fn(cfg)
    bands, r, t = cfg.bands, cfg.rows_per_band, cfg.probes
    per_doc = {
        "features.batch_ms_per_doc": lambda: [
            features.batch_doc_features(x, cfg, a, b) for x in texts
        ],
        "hashing.band_ms_per_doc": lambda: [
            hashing.band_keys_batch(m, bands, r) for m, _ in mats
        ],
        "hashing.probe_ms_per_doc": lambda: [
            hashing.probe_keys_batch(m, ru, bands, r, t) for m, ru in mats
        ],
        "udfs.fused_ms_per_doc": lambda: list(fused(iter(batches))),
    }
    out = {name: 1000.0 * _median_s(fn) / rows for name, fn in per_doc.items()}
    out["udfs.distinct_share"] = sum(bt["text"].nunique() for bt in batches) / rows
    layout = {"scan_partitions": n_parts, "batches": [len(bt) for bt in batches]}
    return out, layout

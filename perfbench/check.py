"""Correctness gate for every timed call.

The reference partition is `dedup.oracle.run_oracle` over the identical
generated pages. It is computed once per
workload and seed, outside all timings, and cached under
`perfbench/.cache/`, keyed by workload, seed and a hash of the `dedup/`
sources and of the generator.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pandas as pd

from dedup import synth
from dedup.config import DEFAULT
from dedup.oracle import run_oracle

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
MIN_RECALL = 0.99


def source_hash(root: str) -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "dedup", "*.py")))
    files.append(os.path.join(HERE, "workloads.py"))
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def oracle_clusters(root: str, workload) -> tuple[pd.DataFrame, bool]:
    """(url, cluster_id) of the oracle run, and whether it came from the
    cache."""
    path = os.path.join(
        CACHE, f"{workload.name}-{workload.seed}-{source_hash(root)}.parquet"
    )
    if os.path.exists(path):
        return pd.read_parquet(path), True
    clusters = run_oracle(workload.all_pages, DEFAULT).clusters[["url", "cluster_id"]]
    os.makedirs(CACHE, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    clusters.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return clusters, False


def _canonical(clusters: pd.DataFrame) -> dict[str, str]:
    """url -> smallest url of its cluster, whatever labels the side used."""
    rep = clusters.groupby("cluster_id")["url"].transform("min")
    return dict(zip(clusters["url"], rep))


def compare(engine: pd.DataFrame, oracle: pd.DataFrame, truth: pd.DataFrame) -> dict:
    """Partition equality with the oracle plus claimed-tier
    cluster-connectivity recall against ground truth."""
    got, want = _canonical(engine), _canonical(oracle)
    diff = sorted(u for u in want.keys() | got.keys() if got.get(u) != want.get(u))
    claimed = truth[truth["tier"].isin(synth.CLAIMED_TIERS)]
    hits = sum(
        1
        for a, b in zip(claimed["url_a"], claimed["url_b"])
        if a in got and got[a] == got.get(b)
    )
    recall = hits / len(claimed) if len(claimed) else 1.0
    out = {
        "partition_equal": not diff,
        "urls_differing": len(diff),
        "pair_recall": recall,
        "claimed_pairs": len(claimed),
    }
    if diff:
        out["example_urls"] = diff[:5]
    out["ok"] = not diff and recall >= MIN_RECALL
    return out

"""Seeded workload generator.

Every input is a pure function of the workload name and `--seed`. The
base documents are synthesised here (same shape and vocabulary style as
the repo's `documents.parquet` fixtures), written to a scratch directory,
and turned into a `pages` corpus by the engine's own generator,
`dedup.synth.make_corpus`, which plants the duplicate groups, the edge
rows and the 50-copy boilerplate group, and labels their ground truth.
The engine itself keeps `DedupConfig.DEFAULT` (its own seed 42) and sees
only the generated pages.

The full-run workloads are `REPLICAS` url-prefixed replicas of one such
corpus:

- ``dup-dense``: text byte-identical across replicas;
- ``dup-sparse``: each replica's text rewritten by its own one-to-one
  letter substitution, so no text or shingle repeats across replicas.

``recrawl`` folds one batch into a committed base run. The base is
`BASE_REPLICAS` enciphered replicas (as in ``dup-sparse``) of the corpus
generated from `BASE_SEED`, the same for every `--seed`, so the benchmark
can commit it once and reuse it. The batch is `make_corpus` over the
base's documents with `--seed`, under its own url prefix and replica 0's
substitution: its base rows, edge rows and boilerplate group re-fetch
replica 0's text exactly, and its planted copies are new mutants.
"""

from __future__ import annotations

import os
import string
from dataclasses import dataclass

import numpy as np
import pandas as pd

from dedup import synth

#: base documents per corpus; make_corpus adds ~0.4 planted copies per
#: document, then its 53 edge rows
N_DOCS = 80
#: pages kept per replica: the first PAGES - 53 rows (base documents with
#: their planted copies) and the 53 edge rows. A fixed count keeps the
#: docs in docs_per_s the same for every seed.
PAGES = 130
EDGE_ROWS = 53
REPLICAS = 4
BASE_REPLICAS = 3
BASE_SEED = 0
BATCH_PREFIX = "https://b."

WORKLOADS = ("dup-dense", "dup-sparse", "recrawl")

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


@dataclass
class Workload:
    name: str
    seed: int
    pages: pd.DataFrame        # the timed call's input: url, warc_ts, html, text, lang
    truth_pairs: pd.DataFrame  # url_a, url_b, tier, over base and pages
    base: pd.DataFrame | None = None  # recrawl: the committed base run's pages

    @property
    def all_pages(self) -> pd.DataFrame:
        """Every page the warehouse holds after the timed call."""
        if self.base is None:
            return self.pages
        return pd.concat([self.base, self.pages], ignore_index=True)


def make_documents(n: int, seed: int) -> pd.DataFrame:
    """`documents.parquet`-shaped table: 10-100 words drawn uniformly from
    a 30-word vocabulary, five languages, twenty sources."""
    rng = np.random.default_rng([seed, 0xD0C5])
    lens = rng.integers(10, 101, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    return docs


def ciphers(seed: int, n: int) -> list[dict]:
    """n letter substitutions that disagree on every letter pairwise:
    replica i maps letter c to perm[(c + i) mod 26], so two replicas
    never share a shingle that contains a letter."""
    perm = np.random.default_rng([seed, 0xC1F]).permutation(26)
    lower = string.ascii_lowercase
    return [
        str.maketrans(lower, "".join(lower[perm[(c + i) % 26]] for c in range(26)))
        for i in range(n)
    ]


def _trim(corpus: synth.SynthCorpus) -> synth.SynthCorpus:
    pages = corpus.pages
    if len(pages) < PAGES:
        raise ValueError(f"corpus has {len(pages)} pages, fewer than {PAGES}")
    body = PAGES - EDGE_ROWS
    pages = pd.concat([pages.iloc[:body], pages.iloc[-EDGE_ROWS:]], ignore_index=True)
    kept = set(pages["url"])
    t = corpus.truth_pairs
    truth = t[t["url_a"].isin(kept) & t["url_b"].isin(kept)].reset_index(drop=True)
    return synth.SynthCorpus(pages, truth, corpus.truth_clusters)


def _replica(corpus: synth.SynthCorpus, prefix: str, table: dict | None):
    """The corpus under url `prefix`, text optionally enciphered;
    enciphered truth pairs are re-labelled by measured tier."""
    p = corpus.pages.copy()
    p["url"] = prefix + p["url"].str.removeprefix("https://")
    t = corpus.truth_pairs.copy()
    t["url_a"] = prefix + t["url_a"].str.removeprefix("https://")
    t["url_b"] = prefix + t["url_b"].str.removeprefix("https://")
    if table is not None:
        p["text"] = p["text"].str.translate(table)
        p["html"] = [
            b"<html><body>" + s.encode("utf-8") + b"</body></html>" for s in p["text"]
        ]
        text = dict(zip(p["url"], p["text"]))
        t["tier"] = [
            synth.measure_tier(text[a], text[b]) for a, b in zip(t["url_a"], t["url_b"])
        ]
    return p, t


def _corpus(docs_seed: int, seed: int, scratch: str) -> synth.SynthCorpus:
    docs_dir = os.path.join(scratch, f"documents-{docs_seed}")
    os.makedirs(docs_dir, exist_ok=True)
    make_documents(N_DOCS, docs_seed).to_parquet(os.path.join(docs_dir, "documents.parquet"))
    return _trim(synth.make_corpus(docs_dir, seed=seed))


def _concat(reps) -> tuple[pd.DataFrame, pd.DataFrame]:
    return (
        pd.concat([p for p, _ in reps], ignore_index=True),
        pd.concat([t for _, t in reps], ignore_index=True),
    )


def _refetch_pairs(old: pd.DataFrame, new: pd.DataFrame) -> pd.DataFrame:
    """Truth pairs between a replica and a batch: pages at the same path
    with the same text (edge rows excluded, as `make_corpus` plants no
    truth for them)."""
    def keyed(p):
        path = p["url"].str.split(".", n=1).str[1]
        return p.assign(path=path)[~path.str.startswith("edge.")]

    m = keyed(old).merge(keyed(new), on="path", suffixes=("_a", "_b"))
    m = m[m["text_a"] == m["text_b"]]
    return pd.DataFrame({"url_a": m["url_a"], "url_b": m["url_b"], "tier": "exact"})


def build(name: str, seed: int, scratch: str) -> Workload:
    """Generate workload `name` for `seed`; `scratch` holds the
    intermediate documents tables."""
    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
    if name == "recrawl":
        base_corpus = _corpus(BASE_SEED, BASE_SEED, scratch)
        tables = ciphers(BASE_SEED, BASE_REPLICAS)
        reps = [_replica(base_corpus, f"https://r{i}.", tables[i]) for i in range(BASE_REPLICAS)]
        base, base_truth = _concat(reps)
        batch, batch_truth = _replica(_corpus(BASE_SEED, seed, scratch), BATCH_PREFIX, tables[0])
        truth = pd.concat(
            [base_truth, batch_truth, _refetch_pairs(reps[0][0], batch)], ignore_index=True
        )
        return Workload(name, seed, batch, truth, base)
    corpus = _corpus(seed, seed, scratch)
    tables = ciphers(seed, REPLICAS) if name == "dup-sparse" else [None] * REPLICAS
    pages, truth = _concat([_replica(corpus, f"https://r{i}.", tables[i]) for i in range(REPLICAS)])
    return Workload(name, seed, pages, truth)

"""Seeded benchmark inputs.

Everything a workload feeds the engine is derived here from the run's
seed: the corpus file-index range, the driver-local hot set and its
order, and the ingest write batches. The engine only ever
sees the generated strings and frames; it never sees the seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pandas as pd

from lucene_solr_1_spark.corpus import make_corpus_pandas, make_file

# Keywords that sit at the head of the corpus' Zipf vocabulary (corpus.py).
HOT_TERMS = ("return", "int", "public", "static", "void", "class", "if", "for")
# Identifier ranks whose document frequency is roughly 50 to 1,500 in the
# benchmark's 20,000-file corpus: rare enough to be "tail" terms, common
# enough that every generated query has hits.
TAIL_RANGE = (200, 3999)
# Driver-local hot set, by kind: 48 queries, 2 of them phrases (4%), the
# phrase share of the engine's measured warm query mix.
LOCAL_MIX = (("tail", 16), ("hot_and_tail", 10), ("hot_or_tail", 10),
             ("tail_or_tail", 10), ("phrase", 2))


def _tail(rng: random.Random, j: int, n: int) -> str:
    """A tail term from the j-th of n equal slices of TAIL_RANGE, so every
    seed's set of n tail terms spans the same document frequencies."""
    lo, hi = TAIL_RANGE
    width = (hi - lo + 1) / n
    return f"id_{lo + int(j * width) + rng.randrange(max(1, int(width))):04d}"


def query_text(kind: str, rng: random.Random, j: int = 0, n: int = 1) -> str:
    """The j-th of n query strings of `kind`, in the classic query-parser
    syntax. Hot terms go round HOT_TERMS in order and tail terms come from
    successive slices of TAIL_RANGE, so only the choice within a slice
    depends on the seed and every seed's hot set does the same work."""
    hot = HOT_TERMS[j % len(HOT_TERMS)]
    if kind == "tail":
        return _tail(rng, j, n)
    if kind == "hot_and_tail":
        return f"{hot} AND {_tail(rng, j, n)}"
    if kind == "hot_or_tail":
        return f"{hot} OR {_tail(rng, j, n)}"
    if kind == "tail_or_tail":
        return f"{_tail(rng, j, n)} OR {_tail(rng, n - 1 - j, n)}"
    if kind == "phrase":
        return f'"{hot} {_tail(rng, j, n)}"'
    raise ValueError(f"unknown query kind {kind!r}")


def corpus_start(seed: int) -> int:
    """First corpus file index for `seed`. Indexes below 5 are the corpus'
    edge-case rows; every seed starts well past them."""
    return 10_000 + (seed % 10_000) * 1_000


def corpus(seed: int, n_files: int) -> pd.DataFrame:
    return make_corpus_pandas(n_files, start=corpus_start(seed))


def local_hot_set(seed: int) -> list[tuple[str, str]]:
    """The fixed hot set of (kind, text) for driver-local search."""
    rng = random.Random(f"local-{seed}")
    seen: set[str] = set()
    out = []
    for kind, count in LOCAL_MIX:
        for j in range(count):
            text = query_text(kind, rng, j, count)
            while text in seen:
                text = query_text(kind, rng, j, count)
            seen.add(text)
            out.append((kind, text))
    return out


def local_passes(seed: int, n_hot: int):
    """Hot-set indexes in timed order, one pass at a time: each pass is a
    seeded permutation, so the mix in any whole number of passes is exact."""
    rng = random.Random(f"local-order-{seed}")
    while True:
        p = list(range(n_hot))
        rng.shuffle(p)
        yield p


@dataclass(frozen=True)
class WriteBatch:
    """One ingest operation. `kind` is add, update or delete; `marker` is
    the batch's unique term, which its key query searches for; `docs` is
    the batch's corpus frame (empty for a delete); `expect_hits` is what
    the key query must return once the write is visible; `live_delta` is
    the change in live documents."""

    index: int
    kind: str
    marker: str
    docs: pd.DataFrame
    expect_hits: int
    live_delta: int


INGEST_PATTERN = ("add", "update", "delete")
ADD_BATCH = 16
UPDATE_BATCH = 8


def _with_marker(pdf: pd.DataFrame, marker: str) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["content"] = pdf["content"] + " " + marker
    return pdf


def write_batches(seed: int, n_files: int, n: int) -> list[WriteBatch]:
    """The first `n` ingest operations for `seed`: add, update, delete
    repeating. An add appends ADD_BATCH new files; an update rewrites
    UPDATE_BATCH distinct files of the base corpus by path; a delete
    removes the most recent add batch by its marker term."""
    rng = random.Random(f"ingest-{seed}")
    start = corpus_start(seed)
    updatable = rng.sample(range(n_files), min(n_files, UPDATE_BATCH * n))
    next_new = start + n_files
    last_add: WriteBatch | None = None
    out: list[WriteBatch] = []
    for i in range(n):
        kind = INGEST_PATTERN[i % len(INGEST_PATTERN)]
        marker = f"mk{seed}x{i}"
        if kind == "add":
            docs = _with_marker(make_corpus_pandas(ADD_BATCH, start=next_new), marker)
            next_new += ADD_BATCH
            b = WriteBatch(i, kind, marker, docs, ADD_BATCH, ADD_BATCH)
            last_add = b
        elif kind == "update":
            rows = []
            for j in updatable[:UPDATE_BATCH]:
                # new content from an unrelated file, same repo/path/commit
                repo, path, commit, lang, _ = make_file(start + j, 20)
                content = make_file(next_new + rng.randrange(10**6), 20)[4]
                rows.append((repo, path, commit, lang, content))
            updatable = updatable[UPDATE_BATCH:]
            docs = _with_marker(
                pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"]),
                marker,
            )
            b = WriteBatch(i, kind, marker, docs, UPDATE_BATCH, 0)
        else:
            b = WriteBatch(i, kind, last_add.marker, docs=pd.DataFrame(),
                           expect_hits=0, live_delta=-last_add.expect_hits)
            last_add = None
        out.append(b)
    return out

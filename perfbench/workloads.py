"""The workloads: query-local and ingest.

Each runs against the engine's public API with one closed-loop client
thread: an untimed warm-up on a tiny index of its own, set-up (repeated,
median reported), a timed window, then correctness gates outside the
window. Layer calls the benchmark makes are wrapped in spans named after
the engine module.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lucene_solr_1_spark.index.builder import (
    add_documents, build_index, update_documents,
)
from lucene_solr_1_spark.index.check import check_index
from lucene_solr_1_spark.index.deletes import delete_by_term, live_doc_count
from lucene_solr_1_spark.index.merge import merge_down
from lucene_solr_1_spark.index import manifest as mf
from lucene_solr_1_spark.search.parser import parse
from lucene_solr_1_spark.search.query import Bool, Occur, Phrase, Term, query_terms
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

from . import streams
from .measure import SparkOps, Tracer, median

K = 10  # top-k of every query
# The engine bakes query weights into float32 before scoring, so its scores
# sit within a few float32 ulps of the float64 oracle, not bit-equal.
SCORE_ULPS = 4
CORE_COLS = ["rank", "score", "global_doc_id", "segment_id", "doc_id"]


@dataclass
class Config:
    seed: int
    seconds: float
    trace: bool
    work: str  # scratch directory inside the checkout, removed after the run
    # Large enough that per-file work, not Spark's fixed job overhead, is
    # most of a build (the run reports the fixed share it measured).
    n_files: int = 10_000
    segments: int = 4
    setup_reps: int = 3
    oracle_sample: int = 6


@dataclass
class Run:
    """What one workload run hands back to the reporter."""

    cfg: Config
    spark: object
    tracer: Tracer
    ops: SparkOps
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)  # name -> value
    layer: dict = field(default_factory=dict)  # name -> value
    latencies: list = field(default_factory=list)
    window_s: float = 0.0
    phases: dict = field(default_factory=dict)  # name -> seconds

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check; a failure counts toward failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.cfg.work, f"{name}-{len(os.listdir(self.cfg.work))}")
        os.makedirs(d)
        return d


# ------------------------------------------------------------------ set-up


def materialize(run: Run, pdf: pd.DataFrame, name: str = "corpus"):
    """Write the corpus to parquet once, so builds read files instead of
    re-running corpus generation inside the timed build."""
    d = run.fresh_dir(name)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), run.cfg.segments)):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[part], preserve_index=False),
            os.path.join(d, f"part-{i:03d}.parquet"),
        )
    return run.spark.read.parquet(d)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )


@dataclass
class Setup:
    index_dir: str
    searcher: LuceneSparkSearcher
    build_s: list
    setup_s: list
    open_s: list


WARMUP_FILES = 200


def warm_up(run: Run, pdf: pd.DataFrame, writes: bool) -> None:
    """Pay the process's one-off costs before anything is timed: JVM code
    generation, Python worker start-up and module imports for every Spark
    plan shape the workload times. Uses a tiny index of its own, so no
    cache of the measured index is touched. `writes` selects the ingest
    shapes (writes and distributed search) over the driver-local ones."""
    d = run.fresh_dir("warmup")
    with run.phase("warmup"):
        small = materialize(run, pdf.iloc[:WARMUP_FILES], "warmup-corpus")
        build_index(run.spark, small, d, num_segments=run.cfg.segments)
        s = LuceneSparkSearcher(run.spark, d)
        if not writes:
            s.search_local(parse('"return int"'), k=K)
        else:
            s.search(parse("return AND int"), k=K, with_stored=False)
            extra = streams.corpus(run.cfg.seed + 1, 4)
            add_documents(run.spark, run.spark.createDataFrame(extra), d, num_segments=1)
            update_documents(run.spark, run.spark.createDataFrame(extra), d, key_field="path")
            delete_by_term(run.spark, d, "return")
            LuceneSparkSearcher(run.spark, d).search(parse("int"), k=K, with_stored=False)
    # a warm build of the tiny corpus is almost all fixed Spark job overhead
    with run.phase("build_fixed_s"):
        build_index(run.spark, small, run.fresh_dir("fixed"), num_segments=run.cfg.segments)


def setup(run: Run, corpus_df, warm) -> Setup:
    """Build a fresh index, open a searcher and warm it, setup_reps times.
    Every build gets its own directory: segment ids are input
    fingerprints, so rebuilding into a used directory would reuse the
    checkpointed segments and do no work."""
    cfg, tr = run.cfg, run.tracer
    build_s, setup_s, open_s = [], [], []
    s = index_dir = None
    for r in range(cfg.setup_reps):
        index_dir = run.fresh_dir("index")
        t0 = time.perf_counter()
        with tr.span("index.builder", f"setup{r}"):
            build_index(run.spark, corpus_df, index_dir, num_segments=cfg.segments)
        t1 = time.perf_counter()
        with tr.span("search.searcher", f"setup{r}"):
            s = LuceneSparkSearcher(run.spark, index_dir)
        t2 = time.perf_counter()
        warm(s, r)
        t3 = time.perf_counter()
        build_s.append(t1 - t0)
        open_s.append(t2 - t1)
        setup_s.append(t3 - t0)
    return Setup(index_dir, s, build_s, setup_s, open_s)


def report_setup(run: Run, st: Setup, corpus_pdf: pd.DataFrame) -> None:
    input_bytes = int(corpus_pdf["content"].str.encode("utf-8").str.len().sum())
    run.e2e["setup_s"] = median(st.setup_s)
    run.e2e["build_files_per_s"] = run.cfg.n_files / median(st.build_s)
    run.e2e["index_bytes_per_input_byte"] = dir_bytes(st.index_dir) / input_bytes
    run.layer["searcher.open_ms"] = median(st.open_s) * 1000
    run.phases["setup_reps_s"] = st.setup_s
    run.phases["build_reps_s"] = st.build_s
    run.phases["build_fixed_share"] = run.phases["build_fixed_s"] / median(st.build_s)


# Nominal seconds of one ingest add/update/delete cycle on a 4-core host
# and the 10,000-file corpus: the ingest window runs --seconds /
# INGEST_CYCLE_S whole cycles.
INGEST_CYCLE_S = 5.0


def report_window(run: Run) -> None:
    lat = run.latencies
    run.e2e["p50_ms"] = median(lat) * 1000
    run.e2e["ops_per_s"] = len(lat) / run.window_s


# ------------------------------------------------------------ correctness


def core(hits: pd.DataFrame) -> pd.DataFrame:
    return hits[CORE_COLS].reset_index(drop=True)


def same_hits(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    try:
        pd.testing.assert_frame_equal(core(a), core(b), check_dtype=False)
    except AssertionError:
        return False
    return (a.attrs.get("total_hits") == b.attrs.get("total_hits")
            and a.attrs.get("relation") == b.attrs.get("relation"))


def oracle_scores(oracle, q) -> dict:
    """Brute-force scores for the query shapes the streams generate."""
    if isinstance(q, Term):
        return oracle.term_scores(q.text)
    if isinstance(q, Phrase):
        return oracle.phrase_scores(list(q.terms))
    if isinstance(q, Bool):
        terms = [c.query.text for c in q.clauses]
        if all(c.occur == Occur.MUST for c in q.clauses):
            return oracle.bool_and(terms)
        if all(c.occur == Occur.SHOULD for c in q.clauses):
            return oracle.bool_or(terms)
    raise ValueError(f"no oracle for {q!r}")


def oracle_gate(run: Run, oracle, texts_hits: list) -> None:
    """Rank identity with float32-equal scores against the brute-force
    oracle, on a seeded sample. On a fresh single build the global docID
    order is the (repo, path, commit) order, which is the oracle's."""
    rng = random.Random(f"oracle-{run.cfg.seed}")
    sample = rng.sample(texts_hits, min(run.cfg.oracle_sample, len(texts_hits)))
    for text, hits in sample:
        want = oracle.top_k(oracle_scores(oracle, parse(text)), K)
        got_ids = hits["global_doc_id"].astype(int).tolist()
        n_match = len(oracle_scores(oracle, parse(text)))
        total = hits.attrs.get("total_hits")
        # past 1000 hits WAND may stop counting: the total is a lower bound
        exact = hits.attrs.get("relation") == "EQUAL_TO"
        got_s = hits["score"].to_numpy(np.float32)
        want_s = np.asarray([s for _, s in want], dtype=np.float32)
        ok = (got_ids == [d for d, _ in want]
              and bool(np.all(np.abs(got_s - want_s) <= SCORE_ULPS * np.spacing(want_s)))
              and (total == n_match if exact else K <= total <= n_match))
        run.check(ok, f"oracle mismatch for {text!r}")


def make_oracle(corpus_pdf: pd.DataFrame):
    from tests.oracle import OracleIndex

    return OracleIndex(corpus_pdf)


def _timed_op(run: Run, op: str, fn):
    """Time one operation; returns its result, or None if it raised (the
    caller's correctness check then counts it as failed)."""
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception:  # a failing operation is a result, not a crash
        run.problems.append(f"{op}: {traceback.format_exc(limit=3)}")
        out = None
    run.latencies.append(time.perf_counter() - t0)
    return out


# ------------------------------------------------------------- query-local


def query_local(run: Run) -> None:
    cfg, tr = run.cfg, run.tracer
    pdf = streams.corpus(cfg.seed, cfg.n_files)
    warm_up(run, pdf, writes=False)
    corpus_df = materialize(run, pdf)
    hot = streams.local_hot_set(cfg.seed)
    keys = sorted({key for _, text in hot for key in query_terms(parse(text))})
    bulk = Bool.of(*[(Occur.SHOULD, Term(t, field=f)) for f, t in keys])

    def warm(s, r):  # one bulk query fetches every hot term's postings
        s.search_local(bulk, k=1)

    with run.phase("setup"):
        st = setup(run, corpus_df, warm=warm)
    report_setup(run, st, pdf)
    s = st.searcher
    with run.phase("warm"):
        ref = [s.search_local(parse(text), k=K) for _, text in hot]

    # Whole passes only, so the mix in the window is exact. Only the
    # queries are timed: each pass's answers are checked against the warm
    # pass after its clock has stopped.
    with run.ops.op("local", "window"):
        for p, order in enumerate(streams.local_passes(cfg.seed, len(hot))):
            if p and run.window_s >= cfg.seconds:
                break
            got = []
            t0 = time.perf_counter()
            for i, h in enumerate(order):
                op = f"l{p}.{i}"

                def one(text=hot[h][1], op=op):
                    with tr.span("search.searcher", op):
                        with tr.span("search.parser", op):
                            q = parse(text)
                        return s.search_local(q, k=K)

                got.append(_timed_op(run, op, one))
            run.window_s += time.perf_counter() - t0
            for i, (h, hits) in enumerate(zip(order, got)):
                run.check(hits is not None and same_hits(hits, ref[h]),
                          f"l{p}.{i}: result differs from the warm pass for {hot[h][1]!r}")
    report_window(run)
    texts = [text for _, text in hot]

    with run.phase("gates"):
        oracle_gate(run, make_oracle(pdf), list(zip(texts, ref)))
        rng = random.Random(f"dist-{cfg.seed}")
        for h in rng.sample(range(len(hot)), 3):
            dist = s.search(parse(texts[h]), k=K, with_stored=False)
            run.check(same_hits(dist, ref[h]), f"distributed != local for {texts[h]!r}")
        codec_gate(run, st.index_dir, texts)
    if cfg.trace:
        from . import layers

        with run.phase("replay"):
            layers.replay(run, st.index_dir, s, pdf, texts, "local")


# ------------------------------------------------------------------ ingest


def ingest(run: Run) -> None:
    cfg, spark = run.cfg, run.spark
    pdf = streams.corpus(cfg.seed, cfg.n_files)
    warm_up(run, pdf, writes=True)
    corpus_df = materialize(run, pdf)
    with run.phase("setup"):
        st = setup(run, corpus_df, warm=lambda s, r: None)
    report_setup(run, st, pdf)
    d = st.index_dir
    live = cfg.n_files
    # a fixed number of whole cycles, so every run writes the same number
    # of segments and the closing merge does the same work
    cycles = max(1, round(cfg.seconds / INGEST_CYCLE_S))
    batches = streams.write_batches(cfg.seed, cfg.n_files,
                                    cycles * len(streams.INGEST_PATTERN))
    # input preparation is not part of the window
    frames = [spark.createDataFrame(b.docs) if b.kind != "delete" else None
              for b in batches]
    t_start = time.perf_counter()
    for b, frame in zip(batches, frames):
        op = f"w{b.index}"
        hits = _timed_op(run, op, lambda: _write_visible(run, b, frame, d, op))
        live += b.live_delta
        got = None if hits is None else hits.attrs["total_hits"]
        run.check(got == b.expect_hits,
                  f"{op}: {b.kind} {b.marker} visible as {got} hits, want {b.expect_hits}")
    run.window_s = time.perf_counter() - t_start
    report_window(run)

    with run.phase("gates"):
        ingest_gates(run, d, live, batches)
    if cfg.trace:
        from . import layers

        layers.ingest_spans(run, batches)
        texts = [b.marker for b in batches if b.kind == "update"]
        with run.phase("replay"):
            layers.replay(run, d, LuceneSparkSearcher(spark, d), pdf, texts, "write")


def _write_visible(run: Run, b, frame, d: str, op: str):
    """One ingest operation: the batch's write, then the key query of a
    freshly opened searcher, whose answer proves the write is visible."""
    spark, tr = run.spark, run.tracer
    with run.ops.op("write", op):
        if b.kind == "add":
            with tr.span("index.builder", op):
                add_documents(spark, frame, d, num_segments=1)
        elif b.kind == "update":
            with tr.span("index.builder", op):
                update_documents(spark, frame, d, key_field="path")
        else:
            with tr.span("index.deletes", op):
                delete_by_term(spark, d, b.marker)
        with tr.span("search.searcher", op):
            s = LuceneSparkSearcher(spark, d)
        with tr.span("search.searcher", op):
            return s.search(parse(b.marker), k=K, with_stored=False)


def ingest_gates(run: Run, d: str, live: int, done: list):
    """Merge down to two segments, check the index, and prove every key
    query still answers as the write stream left it."""
    spark, tr = run.spark, run.tracer
    seg_bytes = {x["segment_id"]: dir_bytes(mf.segment_dir(d, x["segment_id"]))
                 for x in mf.read_manifest(d)["segments"]}
    t0 = time.perf_counter()
    with tr.span("index.merge", "merge"):
        after = merge_down(spark, d, target_segments=2)
    run.layer["merge.merge_s"] = time.perf_counter() - t0
    new = {x["segment_id"] for x in after["segments"]}
    merged_in = sum(n for sid, n in seg_bytes.items() if sid not in new)
    written = sum(dir_bytes(mf.segment_dir(d, sid)) for sid in new - seg_bytes.keys())
    run.layer["merge.rewritten_bytes_per_input_byte"] = written / max(merged_in, 1)
    t0 = time.perf_counter()
    with tr.span("index.check", "check"):
        report = check_index(spark, d)
    run.layer["check.check_s"] = time.perf_counter() - t0
    run.check(report.get("errors") == [], f"check_index errors: {report.get('errors')}")
    run.check(len(after["segments"]) == 2, f"merge left {len(after['segments'])} segments")
    run.check(live_doc_count(d) == live,
              f"live docs {live_doc_count(d)}, want {live}")
    # the merged index still answers every key query as the stream left it
    s = LuceneSparkSearcher(spark, d)
    final = {b.marker: 0 if b.kind == "delete" else b.expect_hits for b in done}
    s.search_local(Bool.of(*[(Occur.SHOULD, Term(m)) for m in final]), k=1)
    for marker, want in final.items():
        got = s.search_local(parse(marker), k=K).attrs["total_hits"]
        run.check(got == want, f"after merge {marker}: {got} hits, want {want}")
    codec_gate(run, d, [b.marker for b in done if final[b.marker]])


# ------------------------------------------------------------- codec gate


def codec_gate(run: Run, index_dir: str, texts: list[str]) -> None:
    """Re-encoding the decoded posting streams of the run's own terms
    must give back the stored blocks byte for byte."""
    from . import layers

    rows = layers.posting_rows(index_dir, texts)
    for ok, what in layers.reencode(rows, run.tracer):
        run.check(ok, what)


WORKLOADS = {"query-local": query_local, "ingest": ingest}

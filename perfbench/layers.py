"""Per-layer metrics of a traced run.

Kernel, codec, parser and analyzer numbers replay the run's own query
strings over posting rows read from the run's own index, calling each
layer's public function directly. Spark numbers come from the job groups
the run set per operation. Every per-layer metric is reported on every
workload; a layer the workload does not call reads 0.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from lucene_solr_1_spark.index import manifest as mf
from lucene_solr_1_spark.index.builder import postings_paths
from lucene_solr_1_spark.index.segment import build_segment_frames
from lucene_solr_1_spark.kernels.analyzer import flatten_tokens, tokenize_one
from lucene_solr_1_spark.kernels.forcodec import decode_all, encode_blocks
from lucene_solr_1_spark.search import kernel as K
from lucene_solr_1_spark.search.parser import parse
from lucene_solr_1_spark.search.query import Phrase, query_terms, rewrite
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

from .measure import median

LAYER_METRICS = (
    ("kernel.score_warm_ms", "ms"), ("kernel.phrase_warm_ms", "ms"),
    ("kernel.score_cold_ms", "ms"), ("kernel.compile_us", "us"),
    ("forcodec.decode_ns_per_value", "ns"), ("forcodec.encode_ns_per_value", "ns"),
    ("parser.parse_us", "us"), ("searcher.expand_us", "us"),
    ("analyzer.query_us", "us"), ("analyzer.index_tokens_per_s", "1/s"),
    ("segment.files_per_s", "1/s"),
    ("spark.jobs_per_op", "count"), ("spark.tasks_per_op", "count"),
    ("spark.kernel_stage_tasks", "count"), ("spark.executor_run_ms_per_op", "ms"),
    ("spark.shuffle_write_bytes_per_op", "B"), ("searcher.stored_fetch_ms", "ms"),
    ("searcher.open_ms", "ms"), ("builder.append_ms", "ms"),
    ("builder.update_ms", "ms"), ("deletes.delete_ms", "ms"),
    ("merge.merge_s", "s"), ("merge.rewritten_bytes_per_input_byte", "ratio"),
    ("check.check_s", "s"), ("traced.p50_ms", "ms"), ("traced.ops_per_s", "1/s"),
)
STREAMS = (("docs_enc", "docs_offsets"), ("freqs_enc", "freqs_offsets"),
           ("pos_enc", "pos_offsets"))


def _us(fn, reps: int = 20) -> float:
    """Median microseconds of `reps` calls of fn()."""
    xs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        xs.append(time.perf_counter() - t0)
    return median(xs) * 1e6


def posting_rows(index_dir: str, texts: list[str]) -> pd.DataFrame:
    """Content-field posting rows of every term the query strings touch,
    read straight from the committed segments' parquet files."""
    terms = sorted({t for text in texts for f, t in query_terms(parse(text))
                    if f == "content"})
    manifest = mf.read_manifest(index_dir)
    parts = [
        pq.read_table(p, filters=[("field", "=", "content"), ("term", "in", terms)])
        .to_pandas()
        for p in postings_paths(index_dir, manifest)
    ]
    return pd.concat(parts, ignore_index=True)


def reencode(rows: pd.DataFrame, tracer):
    """Yield (ok, what) per posting row: every FOR stream, decoded and
    encoded again, must give back the stored bytes and offsets."""
    for r in rows.itertuples(index=False):
        ok = True
        for enc, offs in STREAMS:
            buf, off = bytes(getattr(r, enc)), np.asarray(getattr(r, offs))
            with tracer.span("kernels.forcodec", f"codec:{r.term}"):
                again, again_off = encode_blocks(decode_all(buf, off))
            ok &= again == buf and np.array_equal(again_off, off)
        yield ok, f"re-encoded blocks differ for {r.segment_id}/{r.term}"


def _codec_rates(rows: pd.DataFrame, tracer) -> tuple[float, float]:
    dec_s = enc_s = 0.0
    values = 0
    for r in rows.itertuples(index=False):
        for enc, offs in STREAMS:
            buf, off = bytes(getattr(r, enc)), np.asarray(getattr(r, offs))
            with tracer.span("kernels.forcodec", f"decode:{r.term}"):
                t0 = time.perf_counter()
                vals = decode_all(buf, off)
                t1 = time.perf_counter()
            with tracer.span("kernels.forcodec", f"encode:{r.term}"):
                encode_blocks(vals)
                t2 = time.perf_counter()
            dec_s += t1 - t0
            enc_s += t2 - t1
            values += len(vals)
    values = max(values, 1)
    return dec_s * 1e9 / values, enc_s * 1e9 / values


def _score(plan, segs: dict, caches, searcher) -> None:
    for sid, seg in segs.items():
        base = searcher.doc_base.get(sid, 0)
        deleted = searcher.tombstones.get(sid)
        if K.wand_applicable(plan):
            K.score_wand(plan, seg, caches, 10, doc_base=base, deleted=deleted)
        else:
            K.score_exhaustive(plan, seg, caches, 10, doc_base=base, deleted=deleted)


def _kernel_metrics(run, searcher, rows: pd.DataFrame, texts: list[str]) -> None:
    tr = run.tracer
    gdf = rows.groupby(["field", "term"])["doc_freq"].sum()
    global_df = {k: int(v) for k, v in gdf.items()}
    by_seg = {sid: g for sid, g in rows.groupby("segment_id")}
    n_docs = searcher.seg_doc_count
    queries = [(t, rewrite(searcher.expand(parse(t)))) for t in texts]
    compile_us, cold, warm, phrase = [], [], [], []
    warm_segs = {sid: K.SegmentData(g, n_docs.get(sid, 0)) for sid, g in by_seg.items()}
    for text, q in queries:
        with tr.span("search.kernel", f"compile:{text}"):
            compile_us.append(_us(lambda: K.compile_plan(q, global_df, searcher.doc_counts), 5))
        plan = K.compile_plan(q, global_df, searcher.doc_counts)
        keys = query_terms(q)
        cold_rows = {
            sid: g[[(f, t) in keys for f, t in zip(g["field"], g["term"])]]
            for sid, g in by_seg.items()
        }
        with tr.span("search.kernel", f"cold:{text}"):
            t0 = time.perf_counter()
            segs = {sid: K.SegmentData(g, n_docs.get(sid, 0))
                    for sid, g in cold_rows.items() if len(g)}
            _score(plan, segs, searcher.caches, searcher)
            cold.append(time.perf_counter() - t0)
        _score(plan, warm_segs, searcher.caches, searcher)  # fill the decode cache
        with tr.span("search.kernel", f"warm:{text}"):
            t0 = time.perf_counter()
            _score(plan, warm_segs, searcher.caches, searcher)
            dt = time.perf_counter() - t0
        (phrase if isinstance(q, Phrase) else warm).append(dt)
    run.layer["kernel.compile_us"] = median(compile_us)
    run.layer["kernel.score_cold_ms"] = median(cold) * 1000
    run.layer["kernel.score_warm_ms"] = median(warm) * 1000
    # ingest's marker queries hold no phrase; the metric then reads 0
    run.layer["kernel.phrase_warm_ms"] = median(phrase) * 1000 if phrase else 0.0


def _stored_probe(run, index_dir: str, texts: list[str]) -> None:
    """stored_fetch_ms = search(with_stored=True) minus search(False) on
    the same query with the same warm term statistics; the final stage
    of the with_stored=False search is the scoring-kernel stage."""
    s = LuceneSparkSearcher(run.spark, index_dir)
    diffs, tasks = [], []
    for i, text in enumerate(texts[:3]):
        q = parse(text)
        s.search(q, k=10, with_stored=False)  # fills the docFreq cache
        # k=11 keeps the result cache from answering the timed pair
        with run.ops.op("probe", f"nostored{i}") as g:
            t0 = time.perf_counter()
            s.search(q, k=11, with_stored=False)
            t1 = time.perf_counter()
        tasks.append(run.ops.last_stage_tasks(g))
        s.search(q, k=11, with_stored=True)
        t2 = time.perf_counter()
        diffs.append((t2 - t1) - (t1 - t0))
    run.layer["searcher.stored_fetch_ms"] = median(diffs) * 1000
    run.layer["spark.kernel_stage_tasks"] = median(tasks)


def _spark_metrics(run, kind: str) -> None:
    jobs, tasks = run.ops.counts(kind)
    n = len(run.latencies)  # one group per op, or one for the whole window
    run.layer["spark.jobs_per_op"] = jobs / n
    run.layer["spark.tasks_per_op"] = tasks / n
    run_ms, shuffle = run.ops.rest_totals(kind)
    run.layer["spark.executor_run_ms_per_op"] = run_ms / n
    run.layer["spark.shuffle_write_bytes_per_op"] = shuffle / n


def ingest_spans(run, batches) -> None:
    tr = run.tracer
    by_kind = {"add": [], "update": [], "delete": []}
    for b in batches:
        name = "index.deletes" if b.kind == "delete" else "index.builder"
        by_kind[b.kind] += tr.durations(name, f"w{b.index}")
    for kind, key in (("add", "builder.append_ms"), ("update", "builder.update_ms"),
                      ("delete", "deletes.delete_ms")):
        run.layer[key] = median(by_kind[kind]) * 1000 if by_kind[kind] else 0.0


def replay(run, index_dir: str, searcher, corpus_pdf: pd.DataFrame,
           texts: list[str], op_kind: str) -> None:
    """Fill run.layer with every per-layer metric of a traced run."""
    tr = run.tracer
    run.layer["traced.p50_ms"] = run.e2e["p50_ms"]
    run.layer["traced.ops_per_s"] = run.e2e["ops_per_s"]
    _spark_metrics(run, op_kind)
    with tr.span("search.parser", "replay"):
        run.layer["parser.parse_us"] = median([_us(lambda t=t: parse(t)) for t in texts])
    with tr.span("kernels.analyzer", "replay-query"):
        run.layer["analyzer.query_us"] = median(
            [_us(lambda t=t: tokenize_one(t)) for t in texts])
    with tr.span("search.searcher", "replay-expand"):
        run.layer["searcher.expand_us"] = median(
            [_us(lambda q=parse(t): searcher.expand(q)) for t in texts])
    rows = posting_rows(index_dir, texts)
    _kernel_metrics(run, searcher, rows, texts)
    dec, enc = _codec_rates(rows, tr)
    run.layer["forcodec.decode_ns_per_value"] = dec
    run.layer["forcodec.encode_ns_per_value"] = enc
    content = corpus_pdf["content"]
    with tr.span("kernels.analyzer", "replay-index"):
        t0 = time.perf_counter()
        terms = flatten_tokens(content)[0]
        run.layer["analyzer.index_tokens_per_s"] = len(terms) / (time.perf_counter() - t0)
    part = corpus_pdf.iloc[: len(corpus_pdf) // run.cfg.segments]
    with tr.span("index.segment", "replay"):
        t0 = time.perf_counter()
        build_segment_frames(part)
        run.layer["segment.files_per_s"] = len(part) / (time.perf_counter() - t0)
    _stored_probe(run, index_dir, texts)
    for name, _ in LAYER_METRICS:
        run.layer.setdefault(name, 0.0)

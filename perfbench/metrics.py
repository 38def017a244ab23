"""Metric catalogue: names, units, bounds, and what each per-layer
metric should move.

``END_TO_END`` is what an untraced run (``--trace 0``) reports, the same
names on every workload (README.md says what an item is on each).
``PER_LAYER`` is what a traced run (``--trace 1``) reports: every layer,
whichever workload runs, because a traced run also drives one round of
the other two workloads (see ``run.py``). Each per-layer metric names
the workload it is measured on and the end-to-end or detail metric it
should move there.
"""

from __future__ import annotations

import statistics

# name -> (unit, better, bound). Wall-clock latency and throughput of the
# timed loop are reported too (``WALL``) but not gated: on a shared 4-vCPU
# host whose CPU steal swings between 1% and 26% from run to run, their
# medians over ten seeds spread 16-80%, up to more than any allowed bound.
# CPU cost per item also rises when the host is contended (up to ~2x on
# datapipe_skew with under 4% steal), hence it takes set-up time's bound,
# the largest allowed. The Spark driver JVM heap is fixed (-Xms = -Xmx),
# so peak RSS no longer follows the JVM's heap resizing and spreads 1-4%
# over ten seeds.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cpu_ms_per_item": ("ms", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.15),
}
WALL = {"op_p50_ms": "ms", "items_per_s": "1/s"}

ROUTES = ("wand", "flat", "phrase", "phrase_prefix", "near", "prefix", "agg")
KERNELS = ("wand", "bm25", "phrase", "phrase_prefix", "near", "prefix")
DATAPIPE_OPS = ("exact_dedup", "minhash_lsh_pairs", "segment_dedup", "quality_score", "scrub_pii")

S, I, D = "search_serve", "index_ingest", "datapipe_skew"

# name -> (unit, home workload, moves: "<detail or end-to-end metric> on <workload>")
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "trace.overhead_share": ("ratio", "*", "op_p50_ms of the traced workload (traced/untraced - 1)"),
    "dsl.parse_ms": ("ms", S, "search_p50_ms on search_serve"),
    "readers.term_dfs_ms": ("ms", S, "search_p50_ms on search_serve"),
    "readers.term_dfs_cold_ms": ("ms", I, "search_p50_ms on index_ingest (after invalidate)"),
    "readers.warm_index_s": ("s", S, "setup_s on search_serve"),
    "dsl.shape_ms": ("ms", S, "search_p50_ms on search_serve"),
    "dsl.msearch_overlap": ("ratio", S, "msearch_p50_ms and search_qps on search_serve"),
}
for _r in ROUTES:
    for _m, _u in (("compile_ms", "ms"), ("compile_jobs", "count"), ("collect_ms", "ms"),
                   ("collect_jobs", "count"), ("collect_stages", "count")):
        PER_LAYER[f"dsl.{_r}.{_m}"] = (_u, S, "search_p50_ms and search_p90_ms on search_serve")
for _k in KERNELS:
    for _m, _u in (("ms", "ms"), ("jobs", "count"), ("stages", "count")):
        PER_LAYER[f"search.{_k}.{_m}"] = (_u, S, "search_p50_ms and search_p90_ms on search_serve")
PER_LAYER.update({
    # measured on search_serve's set-up build (3,000 docs, positions)
    "index.prepare_corpus_s": ("s", S, "build_docs_per_s on index_ingest, setup_s on search_serve"),
    "analysis.tokenize_mb_per_s": ("MB/s", S, "build_docs_per_s on index_ingest, setup_s on search_serve"),
    "index.build_postings_s": ("s", S, "build_docs_per_s on index_ingest, setup_s on search_serve"),
    "index.finalize_stats_s": ("s", S, "build_docs_per_s on index_ingest, setup_s on search_serve"),
    "index.build_jobs": ("count", S, "build_docs_per_s on index_ingest, setup_s on search_serve"),
    "index.bytes_per_posting": ("B", S, "index_bytes_per_input_byte on index_ingest"),
    "codecs.decode_mids_per_s": ("Mids/s", S, "search_p50_ms on search_serve"),
    "codecs.encode_mids_per_s": ("Mids/s", S, "build_docs_per_s and refresh_p50_s on index_ingest"),
    "codecs.bytes_per_id": ("B", S, "build_docs_per_s and refresh_p50_s on index_ingest"),
    "index.compact_s": ("s", I, "search_p50_ms on index_ingest"),
    "streaming.batch_s": ("s", I, "refresh_p50_s and ingest_docs_per_s on index_ingest"),
    "streaming.batch_jobs": ("count", I, "refresh_p50_s and ingest_docs_per_s on index_ingest"),
})
for _o in DATAPIPE_OPS:
    PER_LAYER[f"datapipe.{_o}_s"] = ("s", D, "pipeline_docs_per_s on datapipe_skew")
    PER_LAYER[f"datapipe.{_o}.jobs"] = ("count", D, "pipeline_docs_per_s on datapipe_skew")
    PER_LAYER[f"datapipe.{_o}.task_skew"] = ("ratio", D, "pipeline_docs_per_s on datapipe_skew")


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def layer_values(tr, extra: dict[str, float]) -> dict[str, float]:
    """Every PER_LAYER value from a finished tracer's spans plus the
    kernel micro-benchmarks in ``extra``. A layer that ran no call in
    this run reads NaN (printed as null), never a made-up number."""
    v: dict[str, float] = dict(extra)
    v["dsl.parse_ms"] = 1e3 * _med(s.dur for s in tr.named("dsl.parse", S))
    v["readers.term_dfs_ms"] = 1e3 * _med(s.dur for s in tr.named("readers.term_dfs", S))
    v["readers.term_dfs_cold_ms"] = 1e3 * _med(s.dur for s in tr.named("readers.term_dfs", I))
    v["readers.warm_index_s"] = _med(s.dur for s in tr.named("readers.warm_index", S, "setup"))
    v["dsl.shape_ms"] = 1e3 * _med(s.dur for s in tr.named("dsl.shape", S))

    def child(req, name):
        return [c for c in tr.children(req) if c.name == name]

    for r in ROUTES:
        reqs = tr.named("request", S, route=r)
        comp = [c for q in reqs for c in child(q, "dsl.compile")]
        coll = [c for q in reqs for c in child(q, "dsl.collect")]
        v[f"dsl.{r}.compile_ms"] = 1e3 * _med(c.dur for c in comp)
        v[f"dsl.{r}.compile_jobs"] = _med(tr.jobs(c) for c in comp)
        v[f"dsl.{r}.collect_ms"] = 1e3 * _med(c.dur for c in coll)
        v[f"dsl.{r}.collect_jobs"] = _med(tr.jobs(c) for c in coll)
        v[f"dsl.{r}.collect_stages"] = _med(tr.stages(c) for c in coll)
    overlaps = []
    for q in tr.named("request", S, route="msearch"):
        bodies = child(q, "dsl.compile") + child(q, "dsl.collect")
        if q.dur > 0 and bodies:
            overlaps.append(sum(b.dur for b in bodies) / q.dur)
    v["dsl.msearch_overlap"] = _med(overlaps)
    for k in KERNELS:
        spans = tr.named(f"search.{k}", S)
        v[f"search.{k}.ms"] = 1e3 * _med(s.dur for s in spans)
        v[f"search.{k}.jobs"] = _med(tr.jobs(s) for s in spans)
        v[f"search.{k}.stages"] = _med(tr.stages(s) for s in spans)

    builds = tr.named("index.build_index", S, "setup")
    v["index.build_jobs"] = _med(tr.jobs(s) for s in builds)
    in_build = lambda name: [c for b in builds for c in tr.subtree(b) if c.name == name]  # noqa: E731
    v["index.build_postings_s"] = _med(s.dur for s in in_build("index.build_postings"))
    v["index.finalize_stats_s"] = _med(s.dur for s in in_build("index.finalize_stats"))
    v["index.prepare_corpus_s"] = _med(s.dur for s in tr.named("index.prepare_corpus", S, "setup"))
    v["index.compact_s"] = _med(s.dur for s in tr.named("index.compact", I))
    batches = tr.named("streaming.batch", I)
    v["streaming.batch_s"] = _med(s.dur for s in batches)
    v["streaming.batch_jobs"] = _med(tr.jobs(s) for s in batches)

    for o in DATAPIPE_OPS:
        spans = tr.named(f"datapipe.{o}", D)
        v[f"datapipe.{o}_s"] = _med(s.dur for s in spans)
        v[f"datapipe.{o}.jobs"] = _med(tr.jobs(s) for s in spans)
        skews = [x for x in (tr.task_skew(s) for s in spans) if x is not None]
        v[f"datapipe.{o}.task_skew"] = _med(skews)
    return v


def trace_overhead(kinds: list[str], rounds: list[int], traced: list[bool],
                   ops: list[float]) -> float:
    """Median over operation kinds of traced / untraced median latency,
    minus 1. Round 0 (untraced) still pays first-query warm-up and is
    left out; rounds then alternate traced, untraced, ..."""
    ratios = []
    for k in sorted(set(kinds)):
        t = [o for o, kk, r, tr in zip(ops, kinds, rounds, traced) if kk == k and r > 0 and tr]
        u = [o for o, kk, r, tr in zip(ops, kinds, rounds, traced) if kk == k and r > 0 and not tr]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return _med(ratios) - 1

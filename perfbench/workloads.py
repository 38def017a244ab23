"""The three workloads. Each is closed loop with one client.

A workload has ``setup`` (counted in ``setup_s``), ``warmup`` (the
first Spark jobs of a process pay JVM, code generation and Python-worker
start-up; neither timed nor traced), ``run`` (the timed loop: whole
rounds until ``seconds`` have passed, never fewer than ``min_rounds``)
and ``check`` (answers against the oracles, after the timed loop).
``run`` records one latency per operation in ``ops`` and the work done
in ``items``; ``detail`` holds the workload's own named
metrics (listed in README.md).

Traced runs (``ctx.tracer.enabled``) interleave untraced and traced
rounds, so the tracing overhead is the difference between the two
halves of one run; the traced rounds also call the program's kernels
directly on the same inputs.
"""

from __future__ import annotations

import itertools
import math
import os
import shutil
import statistics
import time

from perfbench import checks, gen
from perfbench.metrics import DATAPIPE_OPS

SERVE_DOCS = 3000
INGEST_BASE_DOCS = 1000
INGEST_LANDING_DOCS = 300
INGEST_PROBES = ("head", "tail", "and2", "phrase")
SHARD_DOCS = 1000
WARMUP_DOCS = 200
_PART_NUMBERS = itertools.count()


class Ctx:
    def __init__(self, spark, tracer, work: str, seed: int, sweep: bool = False,
                 shard_files: bool = False):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.traced = tracer.enabled
        # sweep: one fully traced round, to reach a layer the traced
        # workload does not; otherwise a traced run alternates rounds
        self.sweep = sweep
        self.shard_files = shard_files  # see DatapipeSkew

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


def _attempt(fn):
    """``fn()``, or, when the program raises, an error record that the
    checks count as a failed operation; the run goes on."""
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 - a failing operation is counted, not fatal
        return {"error": f"{type(e).__name__}: {e}"[:500]}


class Result:
    def __init__(self):
        self.ops: list[float] = []          # seconds per timed operation
        self.traced_flags: list[bool] = []  # per op: ran in a traced round
        self.op_kinds: list[str] = []       # per op: request kind / operator
        self.op_rounds: list[int] = []      # per op: round number
        self.items = 0                      # work units done in the timed loop
        self.busy_s = 0.0                   # time the items took
        self.attempted = 0
        self.failures: list[str] = []
        self.detail: dict[str, tuple[float, str, int]] = {}  # name -> (value, unit, samples)
        self.layer: dict[str, float] = {}   # per-layer values measured directly

    def fail(self, what: str) -> None:
        self.failures.append(what)


def _round_traced(ctx: Ctx, r: int) -> bool:
    """In a traced run odd rounds are traced and even ones are not (a
    sweep traces all); the tracer follows. Untraced runs never trace."""
    on = ctx.traced and (ctx.sweep or r % 2 == 1)
    if ctx.traced:
        ctx.tracer.enabled = on
    return on


def _end_rounds(ctx: Ctx) -> None:
    ctx.tracer.enabled = ctx.traced


def _min_rounds(ctx: Ctx, n: int) -> int:
    """A traced run needs untraced-traced-untraced rounds at least, so
    the tracing overhead is not confounded with warm-up drift."""
    if ctx.sweep:
        return 1
    return max(n, 3) if ctx.traced else n


def _web_docs(spark, parquet: str):
    """The engine's document relation over a web_pages parquet (path or
    directory): stable doc_id, url, site (the URL host label) and text."""
    from pyspark.sql import functions as F

    from gopensearch_spark.webtext import doc_id_expr

    wp = spark.read.parquet(parquet)
    return wp.select(doc_id_expr("url"), "url",
                     F.regexp_extract("url", r"^https://([^.]+)\.", 1).alias("site"), "text")


def _doc_ids(spark, parquet: str) -> dict[str, int]:
    return {r["url"]: int(r["doc_id"]) for r in _web_docs(spark, parquet).select("url", "doc_id").collect()}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
               if not f.startswith(".") and not f.endswith(".crc"))


# --- search_serve -----------------------------------------------------------------

class SearchServe:
    name = "search_serve"
    min_rounds = 1

    def setup(self, ctx: Ctx) -> None:
        from gopensearch_spark.dsl import Engine
        from gopensearch_spark.index import build_index
        from gopensearch_spark.search import warm_index
        from gopensearch_spark.webtext import prepare_corpus

        spark = ctx.spark
        self.corpus = gen.zipf_corpus(ctx.seed, SERVE_DOCS)
        wp = ctx.path("serve", "web_pages.parquet")
        gen.write_parquet(gen.web_pages_frame(self.corpus), wp)
        self.index = ctx.path("serve", "index")
        t0 = time.perf_counter()
        build_index(spark, prepare_corpus(spark.read.parquet(wp)), self.index,
                    num_segments=None, with_positions=True)
        self.build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_index(spark, self.index)
        self.warm_s = time.perf_counter() - t0
        self.engine = Engine(spark)
        self.engine.create_index("web", _web_docs(spark, wp), text_field="text",
                                 index_dir=self.index, id_col="doc_id")
        self.wp = wp
        self.layer = self._layer_benches(ctx) if ctx.traced else {}

    def warmup(self, ctx: Ctx) -> None:
        """One round of the route mix from a query stream of its own,
        less the ``_msearch``, whose bodies take routes the round has."""
        for req in gen.query_stream(ctx.seed * 1000 + 999, self.corpus.texts, 1):
            if req.kind != "msearch":
                _attempt(lambda: self._send(req))

    def _layer_benches(self, ctx: Ctx) -> dict[str, float]:
        """Traced runs only, outside every timed operation: materialised
        extraction, tokenizer and codec throughput, and index size per
        posting, on this run's corpus and index."""
        from pyspark.sql import functions as F

        from gopensearch_spark.webtext import prepare_corpus

        with ctx.tracer.span("index.prepare_corpus"):
            prepare_corpus(ctx.spark.read.parquet(self.wp)).agg(F.sum(F.length("text"))).collect()
        return dict(kernel_benches(self.index, self.corpus.texts),
                    **{"index.bytes_per_posting": _dir_bytes(self.index) / self.corpus.n_postings()})

    def run(self, ctx: Ctx, seconds: float, res: Result) -> None:
        self.log: list[tuple[gen.Request, list[dict]]] = []
        seen: set[str] = set()
        n_seen = n_bodies_with_terms = 0
        search_s: list[float] = []
        msearch_s: list[float] = []
        kernels_done: set[str] = set()
        res.layer.update(self.layer)
        t_start = time.perf_counter()
        r = 0
        while r < _min_rounds(ctx, self.min_rounds) or time.perf_counter() - t_start < seconds:
            traced = _round_traced(ctx, r)
            for req in gen.query_stream(ctx.seed * 1000 + r, self.corpus.texts, 1, start_rid=len(self.log)):
                if ctx.traced and not traced and req.kind == "msearch":
                    continue  # untraced rounds of a traced run only feed the overhead ratio
                for spec in req.specs:
                    if spec["terms"]:
                        n_bodies_with_terms += 1
                        n_seen += all(t in seen for t in spec["terms"])
                        seen.update(spec["terms"])
                resps, dt = self._call(ctx, req, traced)
                self.log.append((req, resps))
                res.ops.append(dt)
                res.op_kinds.append(req.kind)
                res.op_rounds.append(r)
                res.items += len(req.bodies)
                res.busy_s += dt
                (msearch_s if req.kind == "msearch" else search_s).append(dt)
                if traced and req.kind != "msearch":
                    self._direct_kernel(ctx, req, kernels_done)
                res.traced_flags.append(traced)
            r += 1
        _end_rounds(ctx)
        d = res.detail
        d["build_index_s"] = (self.build_s, "s", 1)
        d["warm_index_s"] = (self.warm_s, "s", 1)
        d["search_p50_ms"] = (1e3 * statistics.median(search_s), "ms", len(search_s))
        d["search_p90_ms"] = (1e3 * _pct(search_s, 0.9), "ms", len(search_s))
        d["msearch_p50_ms"] = (1e3 * statistics.median(msearch_s), "ms", len(msearch_s))
        d["search_qps"] = (res.items / res.busy_s, "bodies/s", res.items)
        d["term_dfs_seen_share"] = (n_seen / max(1, n_bodies_with_terms), "ratio", n_bodies_with_terms)

    def _call(self, ctx: Ctx, req: gen.Request, traced: bool) -> tuple[list[dict], float]:
        t0 = time.perf_counter()
        if traced:
            with ctx.tracer.request(req.rid, kind=req.kind, route=gen.ROUTE_OF.get(req.kind, "msearch")):
                resps = _attempt(lambda: self._send(req))
        else:
            resps = _attempt(lambda: self._send(req))
        if isinstance(resps, dict):  # the call raised: every body failed
            resps = [resps] * len(req.bodies)
        return resps, time.perf_counter() - t0

    def _send(self, req: gen.Request) -> list[dict]:
        if req.kind == "msearch":
            lines = []
            for b in req.bodies:
                lines += [{"index": "web"}, b]
            return self.engine.msearch(lines)
        return [self.engine.search("web", req.bodies[0])]

    def _direct_kernel(self, ctx: Ctx, req: gen.Request, done: set[str]) -> None:
        """The request's scoring kernel called directly on its terms and
        collected, as a ``search.<kernel>`` span (first request of each
        kernel only, to bound the traced run's length)."""
        name, make = direct_kernel(ctx.spark, self.index, req)
        if name in done:
            return
        done.add(name)
        with ctx.tracer.span(f"search.{name}"):
            make().collect()

    def check(self, ctx: Ctx, res: Result) -> None:
        oracle = checks.SearchOracle(*self._oracle_docs(ctx))
        try:
            for req, resps in self.log:
                for spec, resp in zip(req.specs, resps):
                    res.attempted += 1
                    errs = oracle.check(spec, resp)
                    if errs:
                        res.fail(f"search_serve rid={req.rid} {spec['kind']}: {'; '.join(errs)}")
        finally:
            oracle.close()

    def _oracle_docs(self, ctx: Ctx):
        ids = _doc_ids(ctx.spark, self.wp)
        return [ids[u] for u in self.corpus.urls], self.corpus.texts, self.corpus.sites


def _pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def direct_kernel(spark, idx: str, req: gen.Request):
    """(kernel name, DataFrame factory) of the ``gopensearch_spark.search``
    kernel that serves a single-search request's route."""
    from pyspark.sql import functions as F

    from gopensearch_spark import search as S

    body, kind = req.bodies[0]["query"], req.kind
    if kind in ("head", "tail", "or3", "and2"):
        q = body["match"]["text"]
        text, mode = (q["query"], "and") if isinstance(q, dict) else (q, "or")
        return "wand", lambda: S.wand_match(spark, idx, text, k=10, mode=mode)
    if kind in ("flat", "agg"):
        t = (body["bool"]["must"][0] if kind == "flat" else body)["match"]["text"]
        return "bm25", lambda: (S.bm25_scores(spark, idx, t, mode="or")
                                .orderBy(F.desc("score"), "doc_id").limit(10))
    if kind == "phrase":
        return "phrase", lambda: S.phrase_match(spark, idx, body["match_phrase"]["text"], k=10)
    if kind == "phrase_prefix":
        return "phrase_prefix", lambda: S.phrase_prefix_match(
            spark, idx, body["match_phrase_prefix"]["text"], k=10)
    if kind == "near":
        a, b = body["match_phrase"]["text"]["query"].split(" ")
        return "near", lambda: S.near_match(
            spark, idx, [("term", a), ("term", b)], n=gen.NEAR_SLOP, k=10)
    return "prefix", lambda: S.prefix_match(spark, idx, body["prefix"]["text"], k=10)


# --- index_ingest -----------------------------------------------------------------

class IndexIngest:
    """Batch build, then landings refreshed into a streaming index with
    cold probe searches after each refresh, then compaction. A round is
    one landing. URLs are append-only: the streaming path has no update
    semantics, so re-crawled pages are not exercised here."""

    name = "index_ingest"
    min_rounds = 2
    max_landings = 4

    def setup(self, ctx: Ctx) -> None:
        from gopensearch_spark.index import build_index
        from gopensearch_spark.webtext import prepare_corpus

        spark = ctx.spark
        self.landings = []
        for i in range(1 if ctx.sweep else self.max_landings):
            c = gen.zipf_corpus(ctx.seed, INGEST_LANDING_DOCS, stream=i + 1, url_tag="l")
            path = ctx.path("ingest", "staging", f"landing-{i:03d}.parquet")
            gen.write_parquet(gen.web_pages_frame(c), path)
            self.landings.append((c, path))
        if ctx.sweep:
            return  # no batch build in a sweep, and the process is already warm
        self.base = gen.zipf_corpus(ctx.seed, INGEST_BASE_DOCS, stream=0, url_tag="b")
        self.wp = ctx.path("ingest", "web_pages.parquet")
        gen.write_parquet(gen.web_pages_frame(self.base), self.wp)

    def warmup(self, ctx: Ctx) -> None:
        """A small build, so the timed build is steady state."""
        from gopensearch_spark.index import build_index
        from gopensearch_spark.webtext import prepare_corpus

        spark = ctx.spark
        warm = gen.zipf_corpus(ctx.seed, WARMUP_DOCS, stream=999, url_tag="w")
        wwp = ctx.path("ingest", "warmup.parquet")
        gen.write_parquet(gen.web_pages_frame(warm), wwp)
        build_index(spark, prepare_corpus(spark.read.parquet(wwp)), ctx.path("ingest", "warmup_index"),
                    num_segments=None, with_positions=True)

    def run(self, ctx: Ctx, seconds: float, res: Result) -> None:
        from gopensearch_spark.dsl import Engine
        from gopensearch_spark.index import build_index, compact_streaming_index
        from gopensearch_spark.streaming.ingest import index_stream_available_now
        from gopensearch_spark.webtext import prepare_corpus

        spark = ctx.spark
        t_start = time.perf_counter()
        # phase 1: batch build (a sweep takes build figures from search_serve's)
        build_s = index_bytes = None
        if not ctx.sweep:
            batch_index = ctx.path("ingest", "batch_index")
            t0 = time.perf_counter()
            build_index(spark, prepare_corpus(spark.read.parquet(self.wp)), batch_index,
                        num_segments=None, with_positions=True)
            build_s = time.perf_counter() - t0
            index_bytes = _dir_bytes(batch_index)
        # phase 2: landings -> refresh -> cold probes
        inbox = self.inbox = os.path.join(ctx.work, "ingest", "inbox")
        os.makedirs(inbox, exist_ok=True)
        self.stream_index = ctx.path("ingest", "stream_index")
        ckpt = ctx.path("ingest", "checkpoint")
        engine = Engine(spark)
        self.probes: list[tuple[int, dict, dict]] = []   # (landings visible, spec, resp)
        refresh_s: list[float] = []
        probe_s: list[float] = []
        texts: list[str] = []
        r = 0
        while r < len(self.landings) and (
                r < _min_rounds(ctx, self.min_rounds) or time.perf_counter() - t_start < seconds):
            traced = _round_traced(ctx, r)
            corpus, path = self.landings[r]
            shutil.move(path, os.path.join(inbox, os.path.basename(path)))
            t0 = time.perf_counter()
            index_stream_available_now(spark, inbox, self.stream_index, ckpt, with_positions=True)
            dt = time.perf_counter() - t0
            refresh_s.append(dt)
            res.items += len(corpus)
            res.busy_s += dt
            texts += corpus.texts
            engine.create_index("live", _web_docs(spark, inbox), text_field="text",
                                index_dir=self.stream_index, id_col="doc_id")
            probe_s += self._probe(ctx, engine, res, r + 1, texts, traced)
            r += 1
        _end_rounds(ctx)
        # phase 3: compaction, then reads on the compacted index
        t0 = time.perf_counter()
        compact_streaming_index(spark, self.stream_index)
        compact_s = time.perf_counter() - t0
        if not ctx.sweep:
            probe_s += self._probe(ctx, engine, res, r, texts, ctx.traced, tag=-1)
        d = res.detail
        if build_s is not None:
            d["build_docs_per_s"] = (len(self.base) / build_s, "docs/s", 1)
            d["index_bytes_per_input_byte"] = (index_bytes / self.base.text_bytes(), "ratio", 1)
        d["refresh_p50_s"] = (statistics.median(refresh_s), "s", len(refresh_s))
        d["ingest_docs_per_s"] = (res.items / res.busy_s, "docs/s", len(refresh_s))
        d["search_p50_ms"] = (1e3 * statistics.median(probe_s), "ms", len(probe_s))
        d["compact_s"] = (compact_s, "s", 1)

    def _probe(self, ctx: Ctx, engine, res: Result, visible: int, texts: list[str],
               traced: bool, tag: int = 0) -> list[float]:
        import numpy as np

        rng = np.random.default_rng([ctx.seed, 4, visible, tag + 1])
        out = []
        for kind in INGEST_PROBES[:2] if ctx.sweep else INGEST_PROBES:
            body, spec = gen._body(rng, kind, texts)
            spec = dict(spec, kind=kind)
            rid = len(self.probes)
            t0 = time.perf_counter()
            if traced:
                with ctx.tracer.request(rid, kind=kind, route=gen.ROUTE_OF[kind]):
                    resp = _attempt(lambda: engine.search("live", body))
            else:
                resp = _attempt(lambda: engine.search("live", body))
            dt = time.perf_counter() - t0
            out.append(dt)
            res.ops.append(dt)
            res.op_kinds.append(kind)
            res.op_rounds.append(visible - 1)
            res.traced_flags.append(traced)
            self.probes.append((visible, spec, resp))
        return out

    def check(self, ctx: Ctx, res: Result) -> None:
        """Each probe against FTS5 over exactly the landings visible when
        it ran."""
        ids = _doc_ids(ctx.spark, self.inbox)
        oracle = checks.SearchOracle([], [], [])
        loaded = 0
        try:
            for visible, spec, resp in sorted(self.probes, key=lambda p: p[0]):
                for c, _ in self.landings[loaded:visible]:
                    oracle.add([ids[u] for u in c.urls], c.texts, c.sites)
                loaded = max(loaded, visible)
                res.attempted += 1
                errs = oracle.check(spec, resp)
                if errs:
                    res.fail(f"index_ingest after {visible} landings {spec['kind']}: {'; '.join(errs)}")
        finally:
            oracle.close()


def _rate(fn, items: float, min_s: float = 0.3) -> float:
    """items per second of ``fn``, repeated until ``min_s`` has passed."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n * items / dt


def kernel_benches(index_dir: str, texts: list[str]) -> dict[str, float]:
    """Driver-side micro-benchmarks of the Arrow/pandas kernels: PFor
    decode and encode over every block of a built index, and the
    tokenizer over the corpus text."""
    import pyarrow.dataset as ds

    from gopensearch_spark import analysis, codecs
    from gopensearch_spark.index.builder import resolve_index_dir

    blocks = ds.dataset(os.path.join(resolve_index_dir(index_dir), "blocks"), format="parquet",
                        partitioning="hive").to_table(columns=["doc_ids"]).column("doc_ids").to_pylist()
    ids = [codecs.delta_pfor_decode(b) for b in blocks]
    n_ids = sum(len(a) for a in ids)
    mb = sum(len(t.encode("utf-8")) for t in texts) / 1e6
    return {
        "codecs.decode_mids_per_s": _rate(lambda: [codecs.delta_pfor_decode(b) for b in blocks], n_ids / 1e6),
        "codecs.encode_mids_per_s": _rate(lambda: [codecs.delta_pfor_encode(a) for a in ids], n_ids / 1e6),
        "codecs.bytes_per_id": sum(len(b) for b in blocks) / n_ids,
        "analysis.tokenize_mb_per_s": _rate(lambda: [analysis.tokenize(t) for t in texts], mb),
    }


# --- datapipe_skew ----------------------------------------------------------------

class DatapipeSkew:
    """The five datapipe operators over fresh skewed shards; a round is
    one shard through the whole chain. Every shard is new input, because
    ``minhash_lsh_pairs`` memoises signatures and real dedup runs pay the
    cold cost.

    The shards are partitions ``part=<n>`` of one parquet dataset, each
    read by filtering on its ``part``. Reading each from a file of its
    own (``shard_files``, ``run.py --shard-files``) trips a defect of the
    program: the signature memo keys on the analyzed plan, which for a
    parquet scan omits the path, so every shard after the first is given
    the first one's pairs, and the checks fail. The memo lives as long as
    the process, hence part numbers are unique in the process."""

    name = "datapipe_skew"
    min_rounds = 3
    max_shards = 20

    def setup(self, ctx: Ctx) -> None:
        self.shards = [(sh, self._write(ctx, sh)) for sh in
                       (gen.skew_shard(ctx.seed, i, SHARD_DOCS) for i in range(self.max_shards))]

    def warmup(self, ctx: Ctx) -> None:
        """One pass over a smaller shard of its own."""
        self._pass(ctx, self._write(ctx, gen.skew_shard(ctx.seed, 999, SHARD_DOCS // 2))(), None)

    def _write(self, ctx: Ctx, sh: gen.Shard):
        """Write one shard; return a factory of its DataFrame."""
        from pyspark.sql import functions as F

        n = next(_PART_NUMBERS)
        if ctx.shard_files:
            path = ctx.path("datapipe", f"shard-{n:03d}.parquet")
            gen.write_parquet(gen.shard_frame(sh), path)
            return lambda: ctx.spark.read.parquet(path)
        root = ctx.path("datapipe", "shards")
        gen.write_parquet(gen.shard_frame(sh), ctx.path("datapipe", "shards", f"part={n}", "shard.parquet"))
        return lambda: ctx.spark.read.parquet(root).where(F.col("part") == n).select("doc_id", "text")

    def _pass(self, ctx: Ctx, df, res: Result | None) -> dict:
        out = {}
        for op in DATAPIPE_OPS:
            t0 = time.perf_counter()
            with ctx.tracer.span(f"datapipe.{op}"):
                out[op] = _attempt(lambda: OP_RUNNERS[op](df))
            if res is not None:
                dt = time.perf_counter() - t0
                res.ops.append(dt)
                res.op_kinds.append(op)
                res.op_rounds.append(len(self.outputs))
                res.traced_flags.append(ctx.tracer.enabled)
        return out

    def run(self, ctx: Ctx, seconds: float, res: Result) -> None:
        self.outputs = []
        pass_s = []
        t_start = time.perf_counter()
        r = 0
        while r < len(self.shards) and (
                r < _min_rounds(ctx, self.min_rounds) or time.perf_counter() - t_start < seconds):
            _round_traced(ctx, r)
            sh, read = self.shards[r]
            t0 = time.perf_counter()
            self.outputs.append(self._pass(ctx, read(), res))
            dt = time.perf_counter() - t0
            pass_s.append(dt)
            res.items += sh.truth["n_docs"]
            res.busy_s += dt
            r += 1
        _end_rounds(ctx)
        res.detail["pipeline_docs_per_s"] = (res.items / res.busy_s, "docs/s", len(pass_s))
        res.detail["shard_pass_p50_s"] = (statistics.median(pass_s), "s", len(pass_s))
        for i, op in enumerate(DATAPIPE_OPS):
            xs = res.ops[i::len(DATAPIPE_OPS)]
            res.detail[f"{op}_p50_s"] = (statistics.median(xs), "s", len(xs))

    def check(self, ctx: Ctx, res: Result) -> None:
        for i, out in enumerate(self.outputs):
            sh, _ = self.shards[i]
            errs = checks.check_datapipe(sh.truth, dict(zip(sh.doc_ids, sh.texts)), out)
            for op in DATAPIPE_OPS:
                res.attempted += 1
                if op in errs:
                    res.fail(f"datapipe_skew shard {i} {op}: {'; '.join(errs[op])}")


def _exact(df) -> dict:
    from pyspark.sql import functions as F

    from gopensearch_spark.datapipe import exact_dedup

    row = exact_dedup(df).agg(F.count("*").alias("n"), F.sum("dup_count").alias("s")).collect()[0]
    return {"rows": int(row["n"]), "dup_total": int(row["s"])}


def _minhash(df) -> dict:
    from gopensearch_spark.datapipe import minhash_lsh_pairs

    return {"pairs": [(int(r["id_a"]), int(r["id_b"]))
                      for r in minhash_lsh_pairs(df).select("id_a", "id_b").collect()]}


def _segments(df) -> dict:
    from pyspark.sql import functions as F

    from gopensearch_spark.datapipe import segment_dedup

    row = segment_dedup(df).agg(F.sum("n_segments").alias("s"), F.sum("n_kept").alias("k"),
                                F.sum(F.length("text_dedup")).alias("c")).collect()[0]
    return {"n_segments": int(row["s"]), "n_kept": int(row["k"]), "chars": int(row["c"])}


def _quality(df) -> dict:
    from gopensearch_spark.datapipe import quality_score

    rows = quality_score(df).select("doc_id", "n_tokens", "quality").collect()
    return {"n_tokens": {int(r["doc_id"]): int(r["n_tokens"]) for r in rows},
            "quality_sum": float(sum(r["quality"] for r in rows))}


def _scrub(df) -> dict:
    from pyspark.sql import functions as F

    from gopensearch_spark.datapipe import scrub_pii

    row = scrub_pii(df).agg(F.sum("n_redactions").alias("n"),
                            F.sum(F.length("text_clean")).alias("c")).collect()[0]
    return {"n_redactions": int(row["n"]), "chars": int(row["c"])}


OP_RUNNERS = {"exact_dedup": _exact, "minhash_lsh_pairs": _minhash,
              "segment_dedup": _segments, "quality_score": _quality, "scrub_pii": _scrub}

WORKLOADS = {w.name: w for w in (SearchServe, IndexIngest, DatapipeSkew)}

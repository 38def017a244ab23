"""Fast checks of the benchmark itself (no Spark session).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, gen, metrics, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_generators_are_deterministic(tmp_path):
    pytest.importorskip("pyarrow")
    a, b, c = (tmp_path / n for n in ("a.parquet", "b.parquet", "c.parquet"))
    gen.write_parquet(gen.web_pages_frame(gen.zipf_corpus(7, 300, stream=2)), str(a))
    gen.write_parquet(gen.web_pages_frame(gen.zipf_corpus(7, 300, stream=2)), str(b))
    gen.write_parquet(gen.web_pages_frame(gen.zipf_corpus(8, 300, stream=2)), str(c))
    assert _digest(str(a)) == _digest(str(b)) != _digest(str(c))

    s1, s2 = gen.skew_shard(7, 1, 200), gen.skew_shard(7, 1, 200)
    assert s1.texts == s2.texts and s1.truth == s2.truth
    gen.write_parquet(gen.shard_frame(s1), str(a))
    gen.write_parquet(gen.shard_frame(s2), str(b))
    assert _digest(str(a)) == _digest(str(b))
    assert gen.skew_shard(8, 1, 200).texts != s1.texts

    texts = gen.zipf_corpus(7, 300).texts
    q1, q2 = gen.query_stream(7, texts, 2), gen.query_stream(7, texts, 2)
    assert [(r.kind, r.bodies) for r in q1] == [(r.kind, r.bodies) for r in q2]


def test_query_stream_has_fixed_route_shares():
    texts = gen.zipf_corpus(3, 200).texts
    reqs = gen.query_stream(3, texts, 3)
    assert sorted(r.kind for r in reqs) == sorted(gen.ROUND * 3)
    for r in reqs:
        assert len(r.bodies) == (4 if r.kind == "msearch" else 1) == len(r.specs)


def test_skew_shard_plants_its_skew():
    s = gen.skew_shard(5, 0, 400)
    t = s.truth
    assert t["n_docs"] == 400 and t["n_distinct_texts"] < 400
    assert sum(gen.BOILERPLATE in x for x in s.texts) > 0.4 * 400
    assert t["n_distinct_segments"] < t["n_segments"]
    assert t["n_pii"] > 0 and len(t["similar_pairs"]) > 100


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]}
    assert e2e == metrics.END_TO_END
    assert e2e["setup_s"][2] == max(b for _, _, b in e2e.values())
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == {k: u for k, (u, _, _) in metrics.PER_LAYER.items()}


def test_planted_wrong_search_answers_are_caught():
    docs = {1: "alpha beta gamma", 2: "alpha alpha delta", 3: "beta delta", 4: "gamma"}
    o = checks.SearchOracle(list(docs), list(docs.values()), ["s1", "s1", "s2", "s2"])
    try:
        spec = {"op": "match", "terms": ["alpha"], "mode": "or"}
        ref = o.expected(spec)

        def resp(hits):
            return {"hits": {"hits": [{"_id": str(d), "_score": s} for d, s in hits]}}

        assert o.check(spec, resp(ref)) == []
        assert o.check(spec, resp(ref[::-1]))                      # wrong order
        assert o.check(spec, resp(ref[:1]))                        # missing hit
        assert o.check(spec, resp([(d, s * 1.001) for d, s in ref]))  # wrong score
        assert o.check(spec, {"error": "ValueError: boom"})            # raised
        agg = {"op": "agg", "terms": ["delta"], "size": 5}
        good = {"aggregations": {"sites": {"buckets": [
            {"key": "s1", "doc_count": 1}, {"key": "s2", "doc_count": 1}]}}}
        assert o.check(agg, good) == []
        good["aggregations"]["sites"]["buckets"][0]["doc_count"] = 2
        assert o.check(agg, good)
    finally:
        o.close()


def test_planted_wrong_datapipe_answers_are_caught():
    s = gen.skew_shard(9, 0, 200)
    texts = dict(zip(s.doc_ids, s.texts))
    t = s.truth
    right = {
        "exact_dedup": {"rows": t["n_distinct_texts"], "dup_total": t["n_docs"]},
        "minhash_lsh_pairs": {"pairs": [tuple(p) for p in t["similar_pairs"]]},
        "segment_dedup": {"n_segments": t["n_segments"], "n_kept": t["n_distinct_segments"]},
        "quality_score": {"n_tokens": {d: len(x.split(" ")) for d, x in texts.items()},
                          "quality_sum": sum(checks._quality(x) for x in texts.values())},
        "scrub_pii": {"n_redactions": t["n_pii"]},
    }
    assert checks.check_datapipe(t, texts, right) == {}
    for op, bad in (
        ("exact_dedup", {"rows": t["n_distinct_texts"] + 1, "dup_total": t["n_docs"]}),
        ("minhash_lsh_pairs", {"pairs": [(10**15, 10**15 + 1)]}),
        ("segment_dedup", {"n_segments": t["n_segments"], "n_kept": t["n_segments"]}),
        ("scrub_pii", {"n_redactions": t["n_pii"] - 1}),
        ("quality_score", {"error": "ValueError: boom"}),
    ):
        errs = checks.check_datapipe(t, texts, dict(right, **{op: bad}))
        assert list(errs) == [op]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "search_serve",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""

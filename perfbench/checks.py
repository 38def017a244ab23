"""Answer checks, run after the timed region.

- full-text hits (match, phrase, phrase_prefix, NEAR, prefix): top-k ids
  and scores against the SQLite FTS5 oracle (``fts5_oracle.Fts5Oracle``);
- bool must + filter and the terms aggregation: FTS5 for the match set,
  pandas over the generated corpus for the filter and the bucket counts;
- datapipe operators: the generator's planted ground truth.

Every check returns a list of mismatch strings; an empty list is a pass.
Callers count each failing request and print its mismatches.
"""

from __future__ import annotations

import math

import pandas as pd

REL_TOL = 1e-9
ALL = 10**9


def compare_ranked(got: list[tuple[int, float]], ref: list[tuple[int, float]]) -> list[str]:
    """Same length, scores equal within REL_TOL position by position, and
    the same ids above the last (possibly tied) score."""
    if len(got) != len(ref):
        return [f"{len(got)} hits, oracle has {len(ref)}"]
    errs = []
    for i, ((gi, gs), (ri, rs)) in enumerate(zip(got, ref)):
        if not math.isclose(gs, rs, rel_tol=REL_TOL, abs_tol=1e-12):
            errs.append(f"rank {i}: score {gs!r} (doc {gi}) vs oracle {rs!r} (doc {ri})")
            break
    if ref and not errs:
        last = ref[-1][1]
        above = lambda xs: {d for d, s in xs if s > last * (1 + REL_TOL) + 1e-12}  # noqa: E731
        if above(got) != above(ref):
            errs.append(f"ids differ: {[d for d, _ in got]} vs oracle {[d for d, _ in ref]}")
    return errs


def hits_of(resp: dict) -> list[tuple[int, float]]:
    return [(int(h["_id"]), float(h["_score"])) for h in resp["hits"]["hits"]]


class SearchOracle:
    """FTS5 + pandas over the exact documents the index was built from."""

    def __init__(self, doc_ids: list[int], texts: list[str], sites: list[str]):
        from gopensearch_spark.fts5_oracle import Fts5Oracle

        self.fts = Fts5Oracle()
        self.site: dict[int, str] = {}
        self.add(doc_ids, texts, sites)

    def add(self, doc_ids: list[int], texts: list[str], sites: list[str]) -> None:
        self.fts.load(list(zip(doc_ids, texts)))
        self.site.update(zip(doc_ids, sites))

    def close(self) -> None:
        self.fts.close()

    def expected(self, spec: dict, k: int = 10):
        op = spec["op"]
        if op == "match":
            return self.fts.match(spec["terms"], k=k, mode=spec["mode"])
        if op == "raw":
            return self.fts.match_raw(spec["expr"], k=k)
        if op == "filter":
            allm = self.fts.match(spec["terms"], k=ALL, mode="or")
            return [(d, s) for d, s in allm if self.site[d] == spec["site"]][:k]
        if op == "agg":
            ids = [d for d, _ in self.fts.match(spec["terms"], k=ALL, mode="or")]
            counts = pd.Series([self.site[d] for d in ids], dtype="object").value_counts()
            rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[: spec["size"]]
            return [(key, int(n)) for key, n in rows]
        raise ValueError(op)

    def check(self, spec: dict, resp: dict) -> list[str]:
        if "error" in resp:
            return [f"request raised {resp['error']}"]
        exp = self.expected(spec)
        if spec["op"] == "agg":
            got = [(b["key"], int(b["doc_count"]))
                   for b in resp["aggregations"]["sites"]["buckets"]]
            return [] if got == exp else [f"buckets {got} vs oracle {exp}"]
        return compare_ranked(hits_of(resp), exp)


def check_datapipe(truth: dict, texts: dict[int, str], out: dict) -> dict[str, list[str]]:
    """Per-operator mismatches against a shard's planted ground truth.

    ``out`` holds what the benchmark collected from each operator:
    exact_dedup (rows, sum dup_count), minhash_lsh_pairs (pairs),
    segment_dedup (sum n_segments, sum n_kept), quality_score (per-doc
    n_tokens, sum quality) and scrub_pii (sum n_redactions), or an
    ``{"error": ...}`` record for an operator that raised."""
    errs = {op: [f"operator raised {o['error']}"] for op, o in out.items() if "error" in o}

    def expect(op: str, what: str, got, exp) -> None:
        if got != exp:
            errs.setdefault(op, []).append(f"{what}: {got!r}, expected {exp!r}")

    if "exact_dedup" not in errs:
        ex = out["exact_dedup"]
        expect("exact_dedup", "distinct texts", ex["rows"], truth["n_distinct_texts"])
        expect("exact_dedup", "sum dup_count", ex["dup_total"], truth["n_docs"])
    if "minhash_lsh_pairs" not in errs:
        _check_pairs(truth, texts, out["minhash_lsh_pairs"]["pairs"], errs)
    if "segment_dedup" not in errs:
        seg = out["segment_dedup"]
        expect("segment_dedup", "sum n_segments", seg["n_segments"], truth["n_segments"])
        expect("segment_dedup", "sum n_kept", seg["n_kept"], truth["n_distinct_segments"])
    if "quality_score" not in errs:
        _check_quality(texts, out["quality_score"], errs)
    if "scrub_pii" not in errs:
        expect("scrub_pii", "sum n_redactions", out["scrub_pii"]["n_redactions"], truth["n_pii"])
    return errs


def _check_pairs(truth: dict, texts: dict[int, str], pairs, errs: dict) -> None:
    """Planted-pair recall >= 0.9; every other reported pair names two
    docs of this shard with true 5-shingle Jaccard >= 0.6."""
    from perfbench.gen import shingles

    planted = {tuple(p) for p in truth["similar_pairs"]}
    found = {tuple(sorted(p)) for p in pairs}
    recall = len(found & planted) / max(1, len(planted))
    if recall < 0.9:
        errs.setdefault("minhash_lsh_pairs", []).append(
            f"planted-pair recall {recall:.3f} < 0.9 ({len(found & planted)}/{len(planted)})")
    foreign = sorted(p for p in found if p[0] not in texts or p[1] not in texts)
    if foreign:
        errs.setdefault("minhash_lsh_pairs", []).append(
            f"{len(foreign)} pairs name docs that are not in this shard, e.g. {foreign[:3]}")
    for a, b in sorted(found - planted - set(foreign)):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        j = len(sa & sb) / max(1, len(sa | sb))
        if j < 0.6:
            errs.setdefault("minhash_lsh_pairs", []).append(
                f"pair ({a}, {b}) has true Jaccard {j:.3f}")


def _check_quality(texts: dict[int, str], q: dict, errs: dict) -> None:
    exp_tokens = {d: len(t.split(" ")) for d, t in texts.items()}
    if q["n_tokens"] != exp_tokens:
        bad = [d for d in exp_tokens if q["n_tokens"].get(d) != exp_tokens[d]][:3]
        errs.setdefault("quality_score", []).append(f"n_tokens differ, e.g. docs {bad}")
    exp_q = sum(_quality(t) for t in texts.values())
    if not math.isclose(q["quality_sum"], exp_q, rel_tol=1e-9):
        errs.setdefault("quality_score", []).append(
            f"sum quality {q['quality_sum']!r}, expected {exp_q!r}")


def _quality(text: str) -> float:
    """textqc.quality_score's composite, restated over Python strings."""
    from gopensearch_spark.datapipe.textqc import LANG_MARKERS

    toks = text.split(" ")
    n = len(toks)
    ttr = len(set(toks)) / n
    stop_hits = len(set(toks) & set(LANG_MARKERS["en"]))
    mwl = len(text) / n
    return (0.25 * (10 <= n <= 100000) + 0.25 * (3 <= mwl <= 12)
            + 0.25 * (ttr >= 0.1) + 0.25 * (stop_hits >= 1))

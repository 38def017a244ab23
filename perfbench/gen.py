"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed gives the
same documents, the same query stream and byte-identical parquet files
(``write_parquet`` pins every writer setting that could vary).

- ``zipf_corpus``: Zipf (s = 1) vocabulary, lognormal document lengths.
  Used by search_serve (built + warmed index) and index_ingest (the
  batch corpus and the landing files, with distinct URLs).
- ``query_stream``: one round of requests with fixed route shares; query
  terms are Zipf-drawn from rank bands so a route's cost does not swing
  with the seed.
- ``skew_shard``: a datapipe shard with planted near-duplicate clusters,
  exact copies, one boilerplate line shared by a large share of the docs,
  one "hot band" family (long shared template, so its members collide in
  LSH bands without reaching the pair threshold) and planted PII, plus
  the ground truth each datapipe check needs.
"""

from __future__ import annotations

import datetime as _dt
import functools
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 20_000
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]  # 70
_T0 = _dt.datetime(2024, 1, 1)
N_SITES = 40


def word(rank: int) -> str:
    """Vocabulary word of a Zipf rank (0 = most frequent). Fixed across
    seeds, so prefix-expansion sizes do not depend on the seed."""
    n, out = rank + len(_SYLLABLES), []
    while n:
        out.append(_SYLLABLES[n % len(_SYLLABLES)])
        n //= len(_SYLLABLES)
    return "".join(out)


VOCAB = [word(r) for r in range(VOCAB_SIZE)]


@functools.lru_cache(maxsize=None)
def _zipf_cdf(lo: int, hi: int) -> np.ndarray:
    """CDF of Zipf (s = 1) restricted to ranks [lo, hi)."""
    c = np.cumsum(1.0 / np.arange(lo + 1, hi + 1, dtype=np.float64))
    return c / c[-1]


def _zipf_draw(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """``n`` ranks in [lo, hi), Zipf-distributed."""
    cdf = _zipf_cdf(lo, hi)
    return lo + np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), hi - lo - 1)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


# --- Zipf corpus / web_pages ------------------------------------------------

@dataclass
class Corpus:
    urls: list[str]
    texts: list[str]
    sites: list[str]

    def __len__(self) -> int:
        return len(self.urls)

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)

    def n_postings(self) -> int:
        """Distinct (term, doc) pairs: the inverted index's posting count."""
        return sum(len(set(t.split(" "))) for t in self.texts)


def zipf_corpus(seed: int, n_docs: int, stream: int = 0, url_tag: str = "b",
                mean_log_len: float = 4.0, sigma: float = 0.6) -> Corpus:
    """``n_docs`` documents over the Zipf vocabulary. ``stream`` and
    ``url_tag`` keep landing batches distinct from the batch corpus (the
    streaming path is append-only, so every URL is new)."""
    rng = _rng(seed, 1, stream)
    lens = np.clip(rng.lognormal(mean_log_len, sigma, n_docs).astype(np.int64), 5, 600)
    toks = _zipf_draw(rng, 0, VOCAB_SIZE, int(lens.sum()))
    site_ids = _zipf_draw(rng, 0, N_SITES, n_docs)
    off = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(VOCAB[t] for t in toks[off[i]:off[i + 1]]) for i in range(n_docs)]
    sites = [f"site{s:02d}" for s in site_ids]
    urls = [f"https://{s}.example/{url_tag}{stream}/{seed}/{i}" for i, s in enumerate(sites)]
    return Corpus(urls=urls, texts=texts, sites=sites)


def web_pages_frame(c: Corpus) -> pd.DataFrame:
    """The ``web_pages`` table shape (``streaming.ingest.WEB_PAGES_SCHEMA``)."""
    from gopensearch_spark.webtext import render_html

    return pd.DataFrame({
        "url": c.urls,
        "warc_ts": [_T0 + _dt.timedelta(seconds=i) for i in range(len(c))],
        "html": [render_html(u, t) for u, t in zip(c.urls, c.texts)],
        "text": c.texts,
        "lang": ["en"] * len(c),
    })


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Byte-stable parquet: one row group, fixed codec, no pandas index."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, compression="snappy", row_group_size=max(1, len(df)),
                   use_dictionary=True, write_statistics=True, coerce_timestamps="us")


# --- query stream -------------------------------------------------------------

HEAD = (0, 40)        # term_dfs memo hits concentrate here
MID = (40, 2000)
TAIL = (2000, VOCAB_SIZE)

# One round: fixed shares, one request of each kind. "msearch" is one
# 4-body _msearch call.
ROUND = ("head", "tail", "or3", "and2", "flat", "phrase", "phrase_prefix",
         "near", "prefix", "agg", "msearch")
ROUTE_OF = {"head": "wand", "tail": "wand", "or3": "wand", "and2": "wand",
            "flat": "flat", "phrase": "phrase", "phrase_prefix": "phrase_prefix",
            "near": "near", "prefix": "prefix", "agg": "agg"}
MSEARCH_KINDS = ("head", "tail", "or3", "flat")
NEAR_SLOP = 3
TOP_SITES = [f"site{s:02d}" for s in range(6)]


@dataclass
class Request:
    rid: int
    kind: str                       # ROUND entry
    bodies: list[dict]              # 1 body, or 4 for msearch
    specs: list[dict]               # oracle spec per body


def _band_term(rng: np.random.Generator, band: tuple[int, int]) -> str:
    return VOCAB[int(_zipf_draw(rng, band[0], band[1], 1)[0])]


def _adjacent(rng: np.random.Generator, texts: list[str], gap: int) -> tuple[str, str]:
    """Two tokens ``gap`` positions apart in a random document: a phrase
    (gap 1) or NEAR pair that is guaranteed to match at least once."""
    while True:
        toks = texts[int(rng.integers(len(texts)))].split(" ")
        if len(toks) > gap:
            i = int(rng.integers(len(toks) - gap))
            if toks[i] != toks[i + gap]:
                return toks[i], toks[i + gap]


def _body(rng: np.random.Generator, kind: str, texts: list[str]) -> tuple[dict, dict]:
    """(ES body, oracle spec) for one single-search kind."""
    if kind in ("head", "tail"):
        t = _band_term(rng, HEAD if kind == "head" else TAIL)
        return ({"query": {"match": {"text": t}}, "size": 10},
                {"op": "match", "terms": [t], "mode": "or"})
    if kind == "or3":
        ts = [_band_term(rng, HEAD), _band_term(rng, MID), _band_term(rng, TAIL)]
        return ({"query": {"match": {"text": " ".join(ts)}}, "size": 10},
                {"op": "match", "terms": ts, "mode": "or"})
    if kind == "and2":
        a, b = _adjacent(rng, texts, 1)  # co-occurring, so AND has hits
        return ({"query": {"match": {"text": {"query": f"{a} {b}", "operator": "and"}}},
                 "size": 10},
                {"op": "match", "terms": [a, b], "mode": "and"})
    if kind == "flat":
        t = _band_term(rng, MID)
        site = TOP_SITES[int(rng.integers(len(TOP_SITES)))]
        return ({"query": {"bool": {"must": [{"match": {"text": t}}],
                                    "filter": [{"term": {"site": site}}]}}, "size": 10},
                {"op": "filter", "terms": [t], "site": site})
    if kind == "phrase":
        a, b = _adjacent(rng, texts, 1)
        return ({"query": {"match_phrase": {"text": f"{a} {b}"}}, "size": 10},
                {"op": "raw", "expr": f'"{a} {b}"', "terms": [a, b]})
    if kind == "phrase_prefix":
        a, b = _adjacent(rng, texts, 1)
        pre = b[:3]
        return ({"query": {"match_phrase_prefix": {"text": f"{a} {pre}"}}, "size": 10},
                {"op": "raw", "expr": f'"{a} {pre}" *', "terms": [a]})
    if kind == "near":
        a, b = _adjacent(rng, texts, 2)
        return ({"query": {"match_phrase": {"text": {"query": f"{a} {b}", "slop": NEAR_SLOP}}},
                 "size": 10},
                {"op": "raw", "expr": f"NEAR({a} {b}, {NEAR_SLOP})", "terms": [a, b]})
    if kind == "prefix":
        pre = _band_term(rng, MID)[:3]
        return ({"query": {"prefix": {"text": pre}}, "size": 10},
                {"op": "raw", "expr": f"{pre}*", "terms": []})
    if kind == "agg":
        t = _band_term(rng, HEAD)
        return ({"size": 0, "query": {"match": {"text": t}},
                 "aggs": {"sites": {"terms": {"field": "site", "size": 5}}}},
                {"op": "agg", "terms": [t], "size": 5})
    raise ValueError(kind)


def query_stream(seed: int, texts: list[str], n_rounds: int, start_rid: int = 0) -> list[Request]:
    """``n_rounds`` rounds of ``ROUND``; each round is shuffled (seeded) so
    no route always follows another, but its shares are exact."""
    rng = _rng(seed, 2)
    out: list[Request] = []
    rid = start_rid
    for _ in range(n_rounds):
        for kind in rng.permutation(ROUND):
            kind = str(kind)
            kinds = MSEARCH_KINDS if kind == "msearch" else (kind,)
            pairs = [_body(rng, k, texts) for k in kinds]
            specs = [dict(s, kind=k) for k, (_, s) in zip(kinds, pairs)]
            out.append(Request(rid, kind, [b for b, _ in pairs], specs))
            rid += 1
    return out


# --- skewed datapipe shard ----------------------------------------------------

BOILERPLATE = ("cookie notice we use cookies to improve your experience "
               "by continuing to browse you accept our terms")
TEMPLATE_WORDS = 120   # hot-band family: shared template length (tokens)


@dataclass
class Shard:
    doc_ids: list[int]
    texts: list[str]
    truth: dict


def _para(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[t] for t in _zipf_draw(rng, 0, VOCAB_SIZE, n))


def _pii(rng: np.random.Generator, i: int) -> str:
    kind = i % 4
    if kind == 0:
        return f"user{int(rng.integers(10**6))}@mail{int(rng.integers(100))}.example.com"
    if kind == 1:
        return f"{int(rng.integers(100, 900))}-{int(rng.integers(10, 99))}-{int(rng.integers(1000, 9999))}"
    if kind == 2:
        return ".".join(str(int(x)) for x in rng.integers(1, 255, size=4))
    return f"{int(rng.integers(200, 999))}-{int(rng.integers(200, 999))}-{int(rng.integers(1000, 9999))}"


def shingles(text: str, n: int = 5) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(max(1, len(toks) - n + 1))}


def skew_shard(seed: int, shard: int, n_docs: int) -> Shard:
    """One datapipe shard. Share layout (of ``n_docs``):

    - 20% near-duplicate clusters of 4 (members 1-3 each edit one token
      of the first member; pairwise Jaccard of 5-shingles ~0.85-0.95);
    - 5% exact copies of other docs;
    - 10% hot-band family: 120-token shared template + 60 own tokens
      (Jaccard ~0.5: LSH bands collide, pairs stay under 0.8);
    - the rest independent, a third of them with one planted PII item
      (email / SSN / IPv4 / phone in turn);
    - 60% of all docs (a cluster decides for all its members) end with
      the shared boilerplate line.
    Paragraphs are newline-separated (the segment_dedup unit)."""
    rng = _rng(seed, 3, shard)
    base_id = (seed % 1000) * 10**9 + shard * 10**6
    n_cluster = (n_docs // 5) // 4 * 4
    n_exact = n_docs // 20
    n_family = n_docs // 10
    n_plain = n_docs - n_cluster - n_exact - n_family
    texts: list[str] = []
    planted: list[tuple[int, int]] = []

    def boiler(lines: list[str], keep: bool) -> str:
        return "\n".join(lines + [BOILERPLATE] if keep else lines)

    for _ in range(n_cluster // 4):
        paras = [_para(rng, 50) for _ in range(3)]
        keep = bool(rng.random() < 0.6)
        first = len(texts)
        for m in range(4):
            lines = list(paras)
            if m:
                toks = lines[m - 1].split(" ")
                toks[int(rng.integers(len(toks)))] = VOCAB[int(rng.integers(VOCAB_SIZE))]
                lines[m - 1] = " ".join(toks)
            texts.append(boiler(lines, keep))
        planted += [(a, b) for a in range(first, first + 4) for b in range(a + 1, first + 4)]
    template = _para(rng, TEMPLATE_WORDS)
    for _ in range(n_family):
        texts.append(boiler([template, _para(rng, 60)], bool(rng.random() < 0.6)))
    n_pii = 0
    for i in range(n_plain):
        lines = [_para(rng, int(rng.integers(20, 70))) for _ in range(3)]
        if i % 3 == 0:
            lines[0] += " contact " + _pii(rng, n_pii)
            n_pii += 1
        texts.append(boiler(lines, bool(rng.random() < 0.6)))
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(len(texts)))])
    order = rng.permutation(len(texts))
    texts = [texts[j] for j in order]
    doc_ids = [base_id + k for k in range(len(texts))]
    id_at = {int(j): doc_ids[k] for k, j in enumerate(order)}
    pairs = {tuple(sorted((id_at[a], id_at[b]))) for a, b in planted}
    by_text: dict[str, list[int]] = {}
    for d, t in zip(doc_ids, texts):
        by_text.setdefault(t, []).append(d)
    for ids in by_text.values():  # exact copies are similar pairs too
        pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    # PII copied along with its doc counts once per copy
    n_pii_total = sum(1 for t in texts if " contact " in t)
    segs = [s.strip().lower() for t in texts for s in t.split("\n")]
    segs = [s for s in segs if s]
    truth = {
        "n_docs": len(texts),
        "n_distinct_texts": len(by_text),
        "similar_pairs": sorted(pairs),
        "n_segments": len(segs),
        "n_distinct_segments": len(set(segs)),
        "n_pii": n_pii_total,
    }
    return Shard(doc_ids=doc_ids, texts=texts, truth=truth)


def shard_frame(s: Shard) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": pd.Series(s.doc_ids, dtype="int64"), "text": s.texts})

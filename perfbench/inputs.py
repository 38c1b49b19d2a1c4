"""Seeded benchmark inputs.

The corpus, the embeddings and the reference query set come from
``datagen`` and do not depend on the seed; the corpus and embeddings are
cached on disk under the benchmark's work directory (generated inputs
only, never program outputs).  Every query the program is asked has the
shape of a reference query (``datagen.generate_queries``, FIXTURES.md
§2), so the shares of query kinds are the reference set's.  The seed
drives the rest: the terms of the batch's variant passes, the order of
the serve stream, the fresh terms of the ``cold`` workload and the query
vectors.
"""

from __future__ import annotations

import glob
import os
import random
import re
from dataclasses import dataclass, field

import numpy as np

# corpus size: build + append + compact + IVF + batch + serve fit a run
# of about a minute on 4 vCPU (see README.md, "Sizing")
N_DOCS = 2500
BUILD_FRAC = 0.70
EMB_DIM = 64

# the batch: the reference set as it is, then seeded variants of it
BATCH_PASSES = 2

# serve stream: requests/s of the reference phase, and one request in
# HYBRID_EVERY carries a query vector (the reference set has none)
REF_RATE = 60.0
HYBRID_EVERY = 5

# a term's frequency band: a variant redraws a term inside its band, so
# the head term stays the head term and a mid term stays mid
_BANDS = (0, 1, 10, 100, 1000, 10_000)
_TOKEN = re.compile(r"(?i)(t[eé]rm)(\d{4})|rare(\d{7})|zzzmissing(\d+)")
_VOCAB = re.compile(r"\bterm\d{4}\b")


def split_point(n_docs: int = N_DOCS) -> int:
    """Docs below it are built cold; the rest arrive in one append."""
    return int(n_docs * BUILD_FRAC)


def _band(rank: int) -> tuple[int, int]:
    for lo, hi in zip(_BANDS, _BANDS[1:]):
        if lo <= rank < hi:
            return lo, hi
    raise ValueError(rank)


def _variant(text: str, rng: random.Random, n_docs: int) -> str:
    """The same query shape with its terms redrawn by the seed: each
    distinct term maps to one new term of its band (a duplicated term
    stays duplicated), case and diacritics are kept."""
    from meme_search_engine_spark.datagen import rare_term

    new: dict[str, str] = {}

    def sub(m: re.Match) -> str:
        key = m.group(0).lower()
        if key not in new:
            if m.group(2):
                lo, hi = _band(int(m.group(2)))
                new[key] = f"{rng.randrange(lo, hi):04d}"
            elif m.group(3):
                new[key] = rare_term(rng.randrange(n_docs))
            else:
                new[key] = f"zzzmissing{rng.randrange(10**6)}"
        return m.group(1) + new[key] if m.group(2) else new[key]

    return _TOKEN.sub(sub, text)


def terms_of(text: str) -> set[str]:
    return {m.group(0).lower() for m in _TOKEN.finditer(text)}


class FreshTerms:
    """Corpus terms handed out without repetition: the per-document rare
    terms and the vocabulary terms of rank 1000 and up (each in a few
    dozen documents at most), in seeded order.  A `cold` request names
    one, so no earlier request in the run has named it.  When the supply
    runs out the terms repeat (and stop being misses); ``reused`` counts
    those."""

    def __init__(self, rng: random.Random, pages_dir: str, exclude: set[str],
                 n_docs: int):
        import pyarrow.parquet as pq

        from meme_search_engine_spark.datagen import rare_term

        vocab: set[str] = set()
        for p in sorted(glob.glob(os.path.join(pages_dir, "*.parquet"))):
            for text in pq.read_table(p, columns=["text"]).column("text").to_pylist():
                vocab.update(t for t in _VOCAB.findall(text) if int(t[4:]) >= 1000)
        terms = sorted((vocab | {rare_term(d) for d in range(n_docs)}) - exclude)
        rng.shuffle(terms)
        self._terms = terms
        self._next = 0
        self.reused = 0

    def __len__(self) -> int:
        return len(self._terms)

    def take(self) -> str:
        i = self._next
        self._next += 1
        if i >= len(self._terms):
            self.reused += 1
        return self._terms[i % len(self._terms)]


def _qvec(rng: random.Random, emb: np.ndarray) -> list:
    """A query vector near a seeded corpus vector."""
    v = emb[rng.randrange(len(emb))].astype(np.float64)
    noise = np.array([rng.uniform(-0.2, 0.2) for _ in range(len(v))])
    return [round(float(x), 6) for x in v + noise]


def serve_pool(reference: list[dict]) -> list[dict]:
    """Request bodies: every reference query, and each multi-term one
    once more in weighted form with its last term at weight -0.5."""
    pool = [{"query": q["text"], "top_k": q["k"]} for q in reference]
    for q in reference:
        toks = q["text"].split()
        if len(toks) > 1:
            pool.append({"text": [[t, 1.0] for t in toks[:-1]] + [[toks[-1], -0.5]],
                         "top_k": q["k"]})
    return pool


def body_text(body: dict) -> str:
    if "text" in body:
        return " ".join(t for t, _ in body["text"])
    return body["query"]


class Stream:
    """The serve request stream of one workload, endless: seeded
    permutations of the pool, one after another, so every pool query is
    asked equally often.  Request i is hybrid (the query text plus a
    seeded vector) when i % HYBRID_EVERY is the last slot.  In the `cold`
    workload every request also names a fresh term."""

    def __init__(self, rng: random.Random, pool: list[dict],
                 emb: np.ndarray, fresh: FreshTerms | None):
        self._rng, self._pool, self._emb = rng, pool, emb
        self.fresh = fresh
        self._order: list[int] = []
        self._i = 0

    def _next_pool(self) -> dict:
        if not self._order:
            self._order = list(range(len(self._pool)))
            self._rng.shuffle(self._order)
        return self._pool[self._order.pop()]

    def take(self) -> tuple[str, dict]:
        body = dict(self._next_pool())
        if self.fresh is not None:
            term = self.fresh.take()
            if "text" in body:
                body["text"] = body["text"] + [[term, 1.0]]
            else:
                body["query"] = f"{body['query']} {term}"
        hybrid = self._i % HYBRID_EVERY == HYBRID_EVERY - 1
        self._i += 1
        if hybrid:
            return "hybrid", {"query": body_text(body), "qvec": _qvec(self._rng, self._emb),
                              "top_k": body["top_k"]}
        return "text", body

    def take_n(self, n: int) -> list[tuple[str, dict]]:
        return [self.take() for _ in range(n)]


@dataclass
class Inputs:
    """Everything the program is asked in one run."""

    batch: list = field(default_factory=list)  # (qid, text, k)
    compaction_sample: list = field(default_factory=list)  # (text, k)
    http_sample: list = field(default_factory=list)  # (text, k)
    pool: list = field(default_factory=list)  # request bodies, warmed up
    warm_hybrid: list = field(default_factory=list)  # hybrid bodies, warm-up only
    reference: list = field(default_factory=list)  # (class, body) at REF_RATE
    stream: Stream | None = None  # continues after the reference phase


def make_inputs(workload: str, seed: int, pages_dir: str, emb: np.ndarray,
                n_requests: int, n_docs: int = N_DOCS) -> Inputs:
    from meme_search_engine_spark.datagen import generate_queries

    rng = random.Random(f"{workload}:{seed}")
    reference = generate_queries(n_docs)
    inp = Inputs()
    texts = [(q["text"], q["k"]) for q in reference]
    for _ in range(BATCH_PASSES - 1):
        texts += [(_variant(q["text"], rng, n_docs), q["k"]) for q in reference]
    inp.batch = [(i, t, k) for i, (t, k) in enumerate(texts)]
    inp.compaction_sample = rng.sample(texts, 24)
    inp.http_sample = rng.sample(texts, 20)
    inp.pool = serve_pool(reference)
    inp.warm_hybrid = [{"query": body_text(b), "qvec": _qvec(rng, emb), "top_k": b["top_k"]}
                       for b in rng.sample(inp.pool, 8)]
    fresh = None
    if workload == "cold":
        seen = set().union(*(terms_of(t) for t, _ in texts))
        fresh = FreshTerms(rng, pages_dir, seen, n_docs)
    inp.stream = Stream(rng, inp.pool, emb, fresh)
    inp.reference = inp.stream.take_n(n_requests)
    return inp

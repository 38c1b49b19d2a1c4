"""One benchmark run: ingest, batch-query and serve.

Every run takes the engine through its whole life on one corpus:

1. set-up: cold ``build_index`` from raw HTML over 70% of the corpus,
   then ``append_to_index`` with the other 30% (a 2-epoch index);
2. batch-query on the 2-epoch index: a seeded batch through
   ``wand_topk`` and the same batch through ``bm25_topk``;
3. ``compact_index``, then ``build_ivf_index`` over the embeddings;
4. ingest: the build and append of step 1 again, timed, into a scratch
   index, now that the Spark session is warm;
5. serve: a ``ForkServer`` over the compacted index, an open-loop
   stream at a reference rate, then a search for the highest fixed rate
   that meets the latency limit.

The engine is driven only through its public functions.  Each phase
records its failures and the correctness checks count as operations.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
from dataclasses import dataclass, field

from inputs import REF_RATE, Inputs, body_text, split_point, terms_of

PCTS = (50.0, 90.0, 99.0, 99.9)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) at the highest percentile with at
    least 10 samples beyond it (the median when there are too few)."""
    n = len(values)
    p = max([q for q in PCTS if n * (1 - q / 100.0) >= 10] or [50.0])
    return pct(values, p), p, n


def pct(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(p / 100.0 * len(s)) - 1))]


@dataclass
class Ledger:
    """Attempted and failed operations, per phase and check."""

    attempted: dict = field(default_factory=dict)
    failed: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)

    def add(self, key: str, attempted: int, failed: int = 0, note: str = "") -> None:
        self.attempted[key] = self.attempted.get(key, 0) + attempted
        self.failed[key] = self.failed.get(key, 0) + failed
        if failed and note:
            self.notes.append(f"{key}: {note}")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def df_by_hash(index_dir: str) -> dict[int, int]:
    """Document frequency of every term of an index, from term_stats."""
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(index_dir, "term_stats"), format="parquet",
                   partitioning="hive").to_table(columns=["term_hash", "df"])
    out: dict[int, int] = {}
    for h, d in zip(t.column("term_hash").to_pylist(), t.column("df").to_pylist()):
        out[h] = out.get(h, 0) + d
    return out


def _qdf(spark, rows):
    return spark.createDataFrame(rows, "query_id int, text string, k int")


def _ranked(rows) -> dict[int, list[tuple]]:
    out: dict[int, list[tuple]] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score_fixed"]))
    return out


def _collect(df):
    return df, df.collect()


def _answers(searcher, sample) -> list[list[tuple]]:
    return [[(m["doc_id"], m["score_fixed"]) for m in searcher.search(t, k)]
            for t, k in sample]


@dataclass
class Run:
    """State and results of one run."""

    work: str
    pages_dir: str
    emb_dir: str
    inputs: Inputs
    tracer: object
    ledger: Ledger
    cpus: int
    traced: bool
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    setup_s: float = 0.0
    calls: list = field(default_factory=list)  # (spark call, start, end)

    @property
    def index_dir(self) -> str:
        return os.path.join(self.work, "index")

    @property
    def ivf_dir(self) -> str:
        return os.path.join(self.work, "ivf")

    def setup(self, name: str, fn):
        """Run a set-up step: its time counts toward setup_s."""
        out, dt = self.tracer.timed(f"setup.{name}", fn)
        self.setup_s += dt
        return out, dt

    def spark_call(self, name: str, fn):
        """A timed public call whose Spark jobs are attributed to `name`."""
        with self.tracer.span(name) as rec:
            out = fn()
        self.calls.append((name, rec["start"], rec["end"]))
        return out, rec["end"] - rec["start"]

    def metric(self, name: str, value: float, unit: str, **detail) -> None:
        self.e2e[name] = {"value": value, "unit": unit, **detail}

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = {"value": value, "unit": unit}


# ------------------------------------------------------------ ingest

def _ingest_slices(run: Run, spark):
    from meme_search_engine_spark.index.postings import IndexConfig

    pages = spark.read.parquet(run.pages_dir).drop("text")
    c = split_point()
    cfg = IndexConfig(salt_shift=12, n_buckets=16, n_parts=4)
    return pages.filter(f"doc_id < {c}"), pages.filter(f"doc_id >= {c}"), cfg


def prepare_index(run: Run, spark) -> None:
    """Set-up: the index every later phase reads, a cold build of the
    first slice and one append of the rest (a 2-epoch index).  These are
    the session's first Spark jobs, so they also take the JVM's one-off
    warm-up (class loading, code generation, JIT compilation), which
    swings with the shared host's load."""
    from meme_search_engine_spark.index.builder import append_to_index, build_index

    first, rest, cfg = _ingest_slices(run, spark)
    run.setup("build_index", lambda: build_index(spark, first, run.index_dir, cfg))
    run.setup("append_to_index", lambda: append_to_index(spark, rest, run.index_dir))
    run.ledger.add("ingest.setup", 2)
    run.layer("index.files_pre_compact", dir_files(run.index_dir), "count")


def ingest(run: Run, spark) -> None:
    """The timed ingest, last in the Spark session: the same build and
    append again, into a scratch index whose answers must equal the
    served index's.  By now the session has run every other phase, so
    the JVM is warm and the timings measure the build itself."""
    from meme_search_engine_spark.index.builder import append_to_index, build_index
    from meme_search_engine_spark.query.serve import LocalSearcher

    first, rest, cfg = _ingest_slices(run, spark)
    c = split_point()
    n = run.info["corpus_docs"]
    scratch = os.path.join(run.work, "ingest_index")
    phase_t: dict = {}
    _, t_build = run.spark_call("build", lambda: build_index(
        spark, first, scratch, cfg, timings=phase_t))
    _, t_app = run.spark_call("append", lambda: append_to_index(spark, rest, scratch))
    run.ledger.add("ingest", 2)
    run.metric("build_docs_per_s", c / t_build, "docs/s", samples=c)
    # the append alone (a third of the ingest time) spread past its bound
    # between runs on a shared host; build plus append together did not
    run.metric("ingest_docs_per_s", n / (t_build + t_app), "docs/s", samples=n)
    run.info["append_docs_per_s"] = (n - c) / t_app
    for k in ("stats", "partials", "docmeta", "finalize", "ledger"):
        run.layer(f"index.builder.{k}_s", phase_t.get(k, 0.0), "s")
    run.layer("index.builder.append_s", t_app, "s")

    sample = run.inputs.compaction_sample
    bad = sum(a != b for a, b in zip(_answers(LocalSearcher(scratch), sample),
                                     _answers(LocalSearcher(run.index_dir), sample)))
    run.ledger.add("check.rebuild", len(sample), bad,
                   f"{bad} answers of the rebuilt index differ from the served index")
    shutil.rmtree(scratch)


# ------------------------------------------------------------ batch query

def batch_query(run: Run, spark) -> None:
    from meme_search_engine_spark.index.build import (
        corpus_stats, docs_from_pages, term_df, term_doc_tf)
    from meme_search_engine_spark.index.builder import load_index
    from meme_search_engine_spark.query.dataframe_engine import bm25_topk
    from meme_search_engine_spark.query.wand import wand_topk

    def _load():
        seg, ts, man = load_index(spark, run.index_dir)
        seg = seg.cache()
        seg.count()
        return seg, ts, man

    (segments, term_stats, manifest), _ = run.setup("load_index", _load)
    docs = docs_from_pages(spark.read.parquet(run.pages_dir))
    tf = term_doc_tf(docs)
    stats, _ = run.setup("corpus_stats", lambda: corpus_stats(docs))
    same = (stats["N"] == manifest["stats"]["N"]
            and stats["total_tokens"] == manifest["stats"]["total_tokens"])
    run.ledger.add("check.stats", 1, 0 if same else 1,
                   "corpus_stats differs from the index manifest")
    inp = run.inputs

    # planning (driver-side term lookups) is part of each call's time.
    # wand_topk runs after the exhaustive batch, so the JVM code both
    # share is compiled before it is timed
    qdf = _qdf(spark, inp.batch)
    (ex_df, ex_rows), t_x = run.spark_call("exhaustive", lambda: _collect(
        bm25_topk(tf, term_df(tf), stats, qdf)))
    (wand_df, wand_rows), t_w = run.spark_call("wand", lambda: _collect(
        wand_topk(spark, segments, term_stats, manifest, qdf)))
    n = len(inp.batch)
    run.metric("wand_queries_per_s", n / t_w, "1/s", samples=n)
    run.metric("exhaustive_queries_per_s", n / t_x, "1/s", samples=n)
    x = _ranked(ex_rows)
    w = _ranked(wand_rows)
    bad = sum(w.get(q) != x.get(q) for q, _, _ in inp.batch)
    run.ledger.add("batch.wand", n)
    run.ledger.add("batch.exhaustive", n)
    run.ledger.add("check.wand_vs_exhaustive", n, bad,
                   f"{bad} wand_topk answers differ from bm25_topk")
    run.info["batch_results"] = sum(len(v) for v in w.values())

    if run.traced:
        from layers import batch_layers
        batch_layers(run, spark, segments, term_stats, manifest, qdf,
                     wand_df, ex_df)
    segments.unpersist()


# ------------------------------------------------------------ maintenance

def compact_and_ivf(run: Run, spark) -> None:
    from meme_search_engine_spark.index.builder import compact_index
    from meme_search_engine_spark.ops.ivf_index import build_ivf_index
    from meme_search_engine_spark.query.serve import LocalSearcher

    sample = run.inputs.compaction_sample
    before = _answers(LocalSearcher(run.index_dir), sample)
    _, t_c = run.spark_call("compact", lambda: compact_index(spark, run.index_dir))
    after = _answers(LocalSearcher(run.index_dir), sample)
    bad = sum(a != b for a, b in zip(before, after))
    run.ledger.add("compact", 1)
    run.ledger.add("check.compaction", len(sample), bad,
                   f"{bad} answers changed across compact_index")
    run.layer("index.compact_s", t_c, "s")

    emb = spark.read.parquet(run.emb_dir)
    _, t_i = run.spark_call("ivf_build", lambda: build_ivf_index(
        spark, emb, run.ivf_dir, n_lists=8, n_iters=2))
    run.ledger.add("ivf_build", 1)
    run.metric("ivf_build_s", t_i, "s", samples=1)

    parts = {p: dir_bytes(os.path.join(run.index_dir, p))
             for p in ("segments", "term_stats", "docmeta")}
    n = run.info["corpus_docs"]
    run.metric("index_bytes_per_doc", sum(parts.values()) / n, "B/doc", samples=n)
    for p, b in parts.items():
        run.layer(f"index.{p}_bytes", b, "B")
    run.layer("index.files_post_compact", dir_files(run.index_dir), "count")
    run.info["index_postings"] = sum(df_by_hash(run.index_dir).values())


# ------------------------------------------------------------ serve

PROBE_S = 1.0  # one fixed-rate probe
# the probed rates, as shares of the rate the workers would sustain if
# each request took the reference phase's median latency; the highest
# rate meeting the limit was 0.55-1.0 of it on both workloads
LADDER = (0.4, 0.6, 0.8, 1.0, 1.2)
MISS_MS = 10_000.0  # a failed request counts at the client timeout


def _latencies(res) -> list[float]:
    """Latency of each request; a failed one misses any limit."""
    return [r.latency_ms if r.ok else MISS_MS for r in res]


def _summary(lat: list[float], total: int) -> dict:
    v, p, n = tail(lat)
    return {"requests": n, "share": n / total, "tail_pct": p, "tail_ms": v,
            **{f"p{q:g}_ms": pct(lat, q) for q in (50, 75, 90, 95, 99)}}


def _count(run: Run, key: str, res) -> None:
    f = sum(not r.ok for r in res)
    run.ledger.add(key, len(res), f, f"{f} requests failed")


def _worst_ms(res) -> float:
    """What a rate is held to: the larger of the tail and the median of
    the last tenth of requests (a growing backlog shows there);
    MISS_MS when a request failed."""
    if not res or any(not r.ok for r in res):
        return MISS_MS
    lat = [r.latency_ms for r in res]
    return max(tail(lat)[0], statistics.median(lat[-max(10, len(lat) // 10):]))


def _max_qps(run: Run, gen, rss, limit_ms: float, p50_ms: float, workers: int) -> float:
    """The highest fixed rate that meets the latency limit with no
    growing backlog.  Open-loop probes of PROBE_S seconds on the
    workload's own stream climb the LADDER of shares of workers / p50_ms
    (the reference median is steady between runs) up to the first rate
    that misses the limit; the result is where the held-to latency
    crosses the limit, interpolated in log latency between that rate and
    the one below it.  One noisy probe so moves the result a little,
    where a bisection would halve its bracket on it.  The top rate when
    every probe meets the limit, 0 when none does."""
    base = workers * 1000.0 / p50_ms
    probes, best = [], 0.0
    for share in LADDER:
        rate = share * base
        with rss.paused(), run.tracer.span("serve.probe", rate=rate):
            res = gen.run(run.inputs.stream.take_n(max(10, round(rate * PROBE_S))), rate)
        _count(run, "serve.probe", res)
        worst = _worst_ms(res)
        probes.append({"rate": rate, "worst_ms": worst, "within_limit": worst <= limit_ms,
                       **_summary(_latencies(res), len(res))})
        if worst > limit_ms:
            if len(probes) > 1:
                lo = probes[-2]
                f = math.log(limit_ms / lo["worst_ms"]) / math.log(worst / lo["worst_ms"])
                best = lo["rate"] + f * (rate - lo["rate"])
            break
        best = rate
    run.info["serve_probe_base_qps"] = base
    run.info["serve_probes"] = probes
    return best


def _describe_stream(run: Run) -> None:
    """Workload descriptors of the reference phase: each class's share,
    and the share of requests naming a term that neither the warm-up nor
    an earlier request named (every such term is a decoded-cache miss),
    against the cache's posting cap and the index's postings."""
    from meme_search_engine_spark.query.serve import LocalSearcher

    inp = run.inputs
    seen = set().union(*(terms_of(body_text(b)) for b in inp.pool + inp.warm_hybrid))
    unseen = 0
    for _, body in inp.reference:
        terms = terms_of(body_text(body))
        unseen += bool(terms - seen)
        seen |= terms
    n = len(inp.reference)
    run.info["serve_class_share"] = {
        c: sum(cls == c for cls, _ in inp.reference) / n for c in ("text", "hybrid")}
    run.info["serve_share_unseen_term"] = unseen / n
    run.info["serve_reference_rate"] = REF_RATE
    run.info["decoded_cache_cap_postings"] = getattr(
        LocalSearcher(run.index_dir), "_scored_postings_cap", None)


def serve(run: Run, limit_ms: float, rss) -> None:
    """HTTP serving over the compacted index; `rss` pauses its sampling
    while requests are timed."""
    from loadgen import CLIENT_ERRORS, OpenLoop, request
    from meme_search_engine_spark.query.mp_server import ForkServer
    from meme_search_engine_spark.query.serve import LocalSearcher

    inp = run.inputs
    _describe_stream(run)
    workers = max(1, run.cpus - 1)  # the client keeps a core
    srv = ForkServer(run.index_dir, workers=workers, embeddings_path=run.emb_dir,
                     ivf_dir=run.ivf_dir)
    _, t_ready = run.setup("fork_server", srv.start)
    run.layer("query.mp_server.ready_s", t_ready, "s")
    try:
        gen = OpenLoop(srv.host, srv.port, threads=run.cpus)
        # warm every worker's caches with the pool and a few hybrid
        # requests, concurrently (each worker holds its own caches); the
        # fresh terms of the cold workload stay unasked
        warm = [("warm", b) for b in inp.pool + inp.warm_hybrid] * (2 * workers)
        res, _ = run.setup("serve_warmup", lambda: gen.run(warm, rate=2000.0))
        _count(run, "serve.warmup", res)

        with rss.paused(), run.tracer.span("serve.reference", rate=REF_RATE):
            res = gen.run(inp.reference, rate=REF_RATE)
            for r in res:
                run.tracer.add(f"http.{r.cls}", r.due, r.end, status=r.status)
        by: dict[str, list] = {}
        for r in res:
            by.setdefault(r.cls, []).append(r)
        for cls, rs in sorted(by.items()):
            _count(run, f"serve.{cls}", rs)
            run.info[f"serve_{cls}"] = _summary(_latencies(rs), len(res))
        text = _latencies(by["text"])
        run.metric("serve_p50_ms", pct(text, 50), "ms", samples=len(text))
        run.info["serve_all"] = _summary(_latencies(res), len(res))
        late = [r.lateness_ms for r in res]
        run.info["generator_lateness_ms"] = {"p50": pct(late, 50), "p99": pct(late, 99),
                                             "max": max(late)}
        run.info["serve_reference_within_limit"] = _worst_ms(res) <= limit_ms
        run.info["serve_share_within_limit"] = {
            cls: sum(r.ok and r.latency_ms <= limit_ms for r in rs) / len(rs)
            for cls, rs in by.items()}

        qps = _max_qps(run, gen, rss, limit_ms, pct(text, 50), workers)
        run.metric("serve_max_qps", qps, "1/s", limit_ms=limit_ms)
        if inp.stream.fresh is not None:
            run.info["cold_fresh_terms"] = len(inp.stream.fresh)
            run.info["cold_terms_reused"] = inp.stream.fresh.reused

        # HTTP answers equal in-process search(with_urls=True)
        local = LocalSearcher(run.index_dir)
        bad = 0
        for text, k in inp.http_sample:
            try:
                status, body = request(srv.host, srv.port, "POST", "/",
                                       {"query": text, "top_k": k})
            except CLIENT_ERRORS:
                status, body = 0, None
            want = [(m["doc_id"], m["score_fixed"], m["url"])
                    for m in local.search(text, k, with_urls=True)]
            got = ([(m["doc_id"], m["score_fixed"], m["url"]) for m in body["matches"]]
                   if status == 200 else None)
            bad += got != want
        run.ledger.add("check.http_vs_local", len(inp.http_sample), bad,
                       f"{bad} HTTP answers differ from LocalSearcher")

        if run.traced:
            from layers import serve_layers
            serve_layers(run, srv, by)
        deaths = workers - srv.alive_workers()
        run.ledger.add("serve.workers", workers, deaths, f"{deaths} workers died")
        run.layer("query.mp_server.worker_deaths", deaths, "count")
    finally:
        srv.stop()


def cleanup(run: Run) -> None:
    shutil.rmtree(run.work, ignore_errors=True)

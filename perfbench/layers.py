"""Per-layer measurements made only in the traced run.

Plan-node counts and pruning counts from the batch phase, the serving
sub-steps from an in-process, single-threaded replay of the serve
stream against a ``LocalSearcher`` on the same index, the HTTP floor,
and a kernel pass on fixed inputs taken from the built index.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from phases import Run, df_by_hash, pct
from tracing import plan_counts


def _ms(fn, *args, **kw) -> tuple[object, float]:
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, (time.perf_counter() - t0) * 1000.0


def batch_layers(run: Run, spark, segments, term_stats, manifest, qdf,
                 wand_df, ex_df) -> None:
    from meme_search_engine_spark.common.hashing import term_hash
    from meme_search_engine_spark.common.textproc import tokenize
    from meme_search_engine_spark.query.wand import plan_candidate_blocks

    for mod, df in (("query.wand", wand_df), ("query.dataframe_engine", ex_df)):
        for k, v in plan_counts(df).items():
            run.layer(f"{mod}.{k}", v, "count")
    with run.tracer.span("trace.candidate_blocks"):
        exploded, _, _ = plan_candidate_blocks(spark, segments, manifest, qdf)
        cand = exploded.count() if exploded is not None else 0
    blocks = {r["term_hash"]: r["n_blocks"]
              for r in term_stats.select("term_hash", "n_blocks").collect()}
    query_blocks = sum(
        sum(blocks.get(h, 0) for h in {term_hash(t) for t in tokenize(text)})
        for _, text, _ in run.inputs.batch)
    run.layer("query.wand.candidate_blocks", cand, "count")
    run.layer("query.wand.query_blocks", query_blocks, "count")
    run.layer("query.wand.candidate_block_ratio",
              cand / query_blocks if query_blocks else 0.0, "ratio")


def serve_layers(run: Run, srv, by_class: dict) -> None:
    """Serving sub-steps.  Client latencies come from the HTTP reference
    phase; service times from replaying the same stream in-process."""
    from inputs import body_text
    from loadgen import request
    from meme_search_engine_spark.common.hashing import term_hash
    from meme_search_engine_spark.common.textproc import tokenize
    from meme_search_engine_spark.query.serve import LocalIVF, LocalSearcher

    health = []
    for _ in range(50):
        _, ms = _ms(request, srv.host, srv.port, "GET", "/health")
        health.append(ms)
    run.layer("query.http_server.health_ms", statistics.median(health), "ms")

    s = LocalSearcher(run.index_dir)
    ivf = LocalIVF(run.ivf_dir)
    dfs = df_by_hash(run.index_dir)
    for body in run.inputs.pool:  # the pool is resident, as served
        _search(s, body, False)
    steps: dict[str, list] = {k: [] for k in (
        "tokenize", "score", "urls", "hybrid", "probe", "service_text", "service_hybrid")}
    postings = []
    with run.tracer.span("trace.serve_replay"):
        for cls, body in run.inputs.reference:
            text = body_text(body)
            (hashes, ms) = _ms(lambda: {term_hash(t) for t in tokenize(text)})
            steps["tokenize"].append(ms)
            postings.append(sum(dfs.get(h, 0) for h in hashes))
            if cls == "hybrid":
                # the probe on its own; search_hybrid probes again inside
                _, ms = _ms(ivf.candidates, body["qvec"], k=50, n_probe=8)
                steps["probe"].append(ms)
                _, ms = _ms(s.search_hybrid, text, body["qvec"], run.emb_dir,
                            body["top_k"], with_urls=True, ivf_dir=run.ivf_dir)
                steps["hybrid"].append(ms)
                steps["service_hybrid"].append(ms)
            else:
                res, score_ms = _ms(_search, s, body, False)
                steps["score"].append(score_ms)
                _, urls_ms = _ms(s.urls_for, [m["doc_id"] for m in res])
                steps["urls"].append(urls_ms)
                steps["service_text"].append(score_ms + urls_ms)
    for k in ("tokenize", "score", "urls", "hybrid"):
        run.layer(f"query.serve.{k}_ms", pct(steps[k], 50), "ms")
    run.layer("ops.ivf.probe_ms", pct(steps["probe"], 50), "ms")
    run.layer("query.serve.postings_per_query", pct(postings, 50), "count")
    run.info["postings_per_query"] = {
        "p50": pct(postings, 50), "p90": pct(postings, 90), "max": max(postings)}
    # wait = client latency at the reference rate minus in-process service
    for cls, name in (("text", "wait_ms"), ("hybrid", "wait_hybrid_ms")):
        client = pct([r.latency_ms for r in by_class[cls]], 50)
        run.layer(f"query.mp_server.{name}",
                  client - pct(steps[f"service_{cls}"], 50), "ms")


def _search(s, body: dict, with_urls: bool):
    if "text" in body:
        return s.search_weighted([(t, w) for t, w in body["text"]],
                                 body["top_k"], with_urls=with_urls)
    return s.search(body["query"], body["top_k"], with_urls=with_urls)


def kernels(run: Run) -> None:
    """Kernel timings on fixed inputs: the head term's posting blocks
    from the built index and the first corpus pages."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from meme_search_engine_spark.common.codecs import (
        decode_postings_block, encode_postings_block, varbyte_decode)
    from meme_search_engine_spark.common.hashing import term_hash
    from meme_search_engine_spark.common.textproc import tokenize
    from meme_search_engine_spark.ops.similarity import partial_topk_indices

    head = term_hash("term0000")
    t = ds.dataset(os.path.join(run.index_dir, "segments"), format="parquet",
                   partitioning="hive").to_table(
        columns=["doc_ids", "tfs", "dls", "n_docs"],
        filter=ds.field("term_hash") == head)
    blocks = list(zip(t.column("doc_ids").to_pylist(), t.column("tfs").to_pylist(),
                      t.column("dls").to_pylist()))
    n_post = sum(t.column("n_docs").to_pylist())
    reps = 20

    def per(fn, unit_count: int, scale: float) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return best * scale / unit_count

    run.layer("common.codecs.varbyte_decode_ns_per_value",
              per(lambda: [varbyte_decode(b[0]) for b in blocks], n_post, 1e9), "ns")
    run.layer("common.codecs.decode_postings_block_us",
              per(lambda: [decode_postings_block(*b) for b in blocks], len(blocks), 1e6),
              "us")
    decoded = [decode_postings_block(*b) for b in blocks]
    run.layer("common.codecs.encode_postings_block_us",
              per(lambda: [encode_postings_block(*d) for d in decoded], len(blocks), 1e6),
              "us")
    texts = pq.read_table(
        os.path.join(run.pages_dir, "bucket=000.parquet"), columns=["text"]
    ).column("text").to_pylist()[:200]
    n_bytes = sum(len(x.encode()) for x in texts)
    run.layer("common.textproc.tokenize_ns_per_byte",
              per(lambda: [tokenize(x) for x in texts], n_bytes, 1e9), "ns")
    toks = [tok for x in texts[:20] for tok in tokenize(x)]
    run.layer("common.hashing.term_hash_ns",
              per(lambda: [term_hash(x) for x in toks], len(toks), 1e9), "ns")
    rng = np.random.default_rng(0)
    scores = rng.integers(0, 1 << 40, size=(n_post, 1), dtype=np.int64)
    ids = np.arange(n_post, dtype=np.int64)
    run.layer("ops.similarity.partial_topk_us",
              per(lambda: partial_topk_indices(scores, ids, 100), 1, 1e6), "us")
    run.info["kernel_inputs"] = {"head_blocks": len(blocks), "head_postings": n_post,
                                 "tokenize_bytes": n_bytes, "hash_tokens": len(toks)}

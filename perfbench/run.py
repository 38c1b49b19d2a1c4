"""Benchmark entry point.

    python3 perfbench/run.py --latency-limit-ms 50 --workload hot --seed 1 --seconds 4 --trace 0

Run from the root of a checkout.  Builds nothing: the engine is pure
Python.  Generated inputs are cached under ``.perfbench/inputs``; every
index the run builds lives under ``.perfbench/work`` and is removed at
the end.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
full record of the run (descriptors, controls, per-check counts, span
file and Spark per-call metrics when traced) goes to
``.perfbench/runs/``.  See README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("hot", "cold"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="length of the open-loop reference phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--latency-limit-ms", type=float, required=True,
                    help="serve latency limit on the tail percentile; "
                         "serve_max_qps is the highest fixed rate meeting it")
    return ap.parse_args()


def _environment(cpus: int) -> dict:
    """Keep every file the run writes inside the checkout and size the
    engine for this box (Spark at nproc cores, a small driver heap)."""
    tmp = os.path.join(BASE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _wait_children(timeout: float = 60.0) -> None:
    from tracing import descendants

    deadline = time.time() + timeout
    while descendants(os.getpid()):
        if time.time() > deadline:
            raise RuntimeError(f"child processes still running: {descendants(os.getpid())}")
        time.sleep(0.2)


def _controls(cpus: int, membw: bool) -> dict:
    """bench_scaling's same-window controls.  The memory-bandwidth one
    runs for a fixed 2 s, so only the start of a traced run takes it."""
    from bench_scaling import _cpu_control, _membw_control

    out = {"cpu_mops": _cpu_control(cpus, n=1_500_000)}
    if membw:
        out["membw_gbps"] = _membw_control(cpus)
    return out


def main() -> int:
    a = _args()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    cpus = len(os.sched_getaffinity(0))
    conf = _environment(cpus)
    # the program under test; fails fast where the checkout lacks it
    import meme_search_engine_spark  # noqa: F401
    from meme_search_engine_spark.datagen import (
        ensure_corpus, ensure_embeddings, generate_embeddings)

    import inputs
    from phases import (Ledger, Run, batch_query, cleanup, compact_and_ivf, ingest,
                        prepare_index, serve)
    from tracing import TreeRSS, Tracer, call_metrics, read_event_log

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    in_dir = os.path.join(BASE, "inputs")
    pages_dir, _ = ensure_corpus(in_dir, inputs.N_DOCS)
    emb_dir = ensure_embeddings(in_dir, inputs.N_DOCS, inputs.EMB_DIM)
    inp = inputs.make_inputs(a.workload, a.seed, pages_dir,
                             generate_embeddings(inputs.N_DOCS, inputs.EMB_DIM)[1],
                             n_requests=int(inputs.REF_RATE * a.seconds))
    work = os.path.join(BASE, "work", run_id)
    out_dir = os.path.join(BASE, "runs")
    os.makedirs(out_dir, exist_ok=True)
    tracer = Tracer(run_id, enabled=bool(a.trace))
    run = Run(work=work, pages_dir=pages_dir, emb_dir=emb_dir, inputs=inp,
              tracer=tracer, ledger=Ledger(), cpus=cpus, traced=bool(a.trace))
    corpus_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(pages_dir, "*.parquet")))
    run.info.update(corpus_docs=inputs.N_DOCS, corpus_parquet_bytes=corpus_bytes,
                    cpus=cpus, driver_heap=DRIVER_MEM, workload=a.workload,
                    seed=a.seed, seconds=a.seconds,
                    latency_limit_ms=a.latency_limit_ms)
    run.info["controls_start"] = _controls(cpus, membw=bool(a.trace))

    if a.trace:
        ev_dir = os.path.join(work, "eventlog")
        os.makedirs(ev_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + ev_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t_all = time.time()
    try:
        with TreeRSS() as rss:
            from meme_search_engine_spark.session import get_spark

            spark, t_s = run.setup("get_spark", lambda: get_spark(
                app_name="perfbench", cores=cpus, extra_conf=conf))
            run.layer("session.start_s", t_s, "s")
            try:
                prepare_index(run, spark)
                batch_query(run, spark)
                compact_and_ivf(run, spark)
                ingest(run, spark)
            finally:
                spark.stop()
                _stop_jvm()
            serve(run, a.latency_limit_ms, rss)
        t_all = time.time() - t_all
        run.metric("setup_s", run.setup_s, "s")
        run.metric("peak_rss_mb", rss.peak_kb / 1024.0, "MB")
        if a.trace:
            from layers import kernels

            kernels(run)
            (log,) = glob.glob(os.path.join(work, "eventlog", "*"))
            per_call = call_metrics(read_event_log(log), run.calls)
            for call, ms in per_call.items():
                for k, v in ms.items():
                    run.layer(f"spark.{call}.{k}", v, "s" if k.endswith("_s") else
                              "B" if k.endswith("_bytes") else
                              "ratio" if k == "task_max_over_median" else "count")
            spans = os.path.join(out_dir, f"{run_id}.spans.jsonl")
            tracer.write(spans)
            print(f"spans: {spans}", file=sys.stderr)
            run.info["self_time_s"] = tracer.self_times()
    finally:
        _stop_jvm()  # no-op unless a failure skipped the stop above
        cleanup(run)
        _wait_children()
    run.info["controls_end"] = _controls(cpus, membw=False)
    run.info["run_wall_s"] = t_all
    run.info["ledger"] = {"attempted": run.ledger.attempted, "failed": run.ledger.failed,
                          "notes": run.ledger.notes}
    _overhead(run, out_dir, a)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump({"e2e": run.e2e, "layers": run.layers, "info": run.info}, fh,
                  indent=1, default=str)
    attempted = sum(run.ledger.attempted.values())
    failed = sum(run.ledger.failed.values())
    shown = run.layers if a.trace else run.e2e
    for note in run.ledger.notes:
        print(f"FAILED {note}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in shown.items()},
    }), flush=True)
    return 0


def _overhead(run, out_dir: str, a) -> None:
    """Tracing overhead: this traced run's wall time minus the median
    wall time of the untraced runs of the same workload recorded so far
    in this checkout."""
    if not a.trace:
        return
    walls = []
    for p in glob.glob(os.path.join(out_dir, f"{a.workload}-s*-t0-*.json")):
        with open(p) as fh:
            walls.append(json.load(fh)["info"]["run_wall_s"])
    if walls:
        import statistics

        run.info["trace_overhead_s"] = run.info["run_wall_s"] - statistics.median(walls)
        run.info["trace_overhead_base_runs"] = len(walls)
        print(f"tracing overhead: {run.info['trace_overhead_s']:.1f} s against the median "
              f"of {len(walls)} untraced runs", file=sys.stderr)
    else:
        print("tracing overhead: no untraced run of this workload recorded yet",
              file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())

"""Entity-resolution benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload er_similarity --seed 1 --seconds 5 --trace 0

Run from the repository root. It generates (and caches under
``.perfbench/``) the workload's pages from ``--seed``, starts one Spark
session at ``local[<nproc>]``, runs the workload's warm-up, then calls the
workload's engine entry point back to back for ``--seconds`` (at least
once), checks every output, and prints one JSON object as the last line
of stdout:

* ``--trace 0``: the end-to-end metrics (see BENCHMARK.json);
* ``--trace 1``: the per-layer metrics, ``<span>.<kind>``, from spans the
  benchmark wraps around the engine's job-running calls.

Each metric is also printed as a ``name = value unit`` line, with
``failed_frac`` (failed operations over attempted ones; the JSON carries
the same as ``failed`` and ``attempted``). A per-run record (metrics,
per-operation timings, host probes) is written to ``.perfbench/runs/``.
Exits non-zero without a result line when the engine cannot be imported
or a workload cannot run at all.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "4g"  # JVM heap; the whole tree peaks near 5 GB of a 15 GB host

sys.path[:0] = [BENCH_DIR, ROOT]

import procfs  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# host probes: recorded beside every run, never used to drop or retry one
# ---------------------------------------------------------------------------
def _burn(n: int) -> int:
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1000003
    return acc


def host_probes() -> dict[str, float]:
    """Single-core and all-core pure-Python burn rates (ops/s)."""
    n = 1_000_000
    t0 = time.perf_counter()
    _burn(n)
    single = n / (time.perf_counter() - t0)
    procs = os.cpu_count() or 1
    # fork, not spawn: a spawn pool starts a resource tracker that outlives
    # the run; the Pool joins its workers on exit
    with multiprocessing.get_context("fork").Pool(procs) as pool:
        pool.map(_burn, [50_000] * procs)  # workers up before the clock starts
        t0 = time.perf_counter()
        pool.map(_burn, [n] * procs)
        multi = procs * n / (time.perf_counter() - t0)
    return {"single_core_ops_s": single, "all_core_ops_s": multi, "procs": procs}


# ---------------------------------------------------------------------------
# session recipe
# ---------------------------------------------------------------------------
def start_session(traced: bool):
    """``local[nproc]`` with a fixed heap; local and temporary dirs are inside
    the checkout. Everything else, shuffle partitions included, is the
    engine's ``build_session`` default. The traced run alone keeps every
    job and stage in the status store."""
    from fia_own_map_spark.session import build_session

    conf = {"spark.driver.memory": DRIVER_MEMORY}
    if traced:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = build_session("perfbench", master=f"local[{os.cpu_count() or 1}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, which exits when its stdin closes, and
    wait until every process the session started (the JVM, pyspark's
    worker daemon and its workers) has ended."""
    from pyspark import SparkContext

    started = procfs.descendants(procfs.snapshot(), os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    killed = procfs.wait_ended(started, timeout_s=60)
    gateway.proc.wait()
    if killed:
        log(f"killed {len(killed)} processes that outlived the session by 60 s")


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------
def end_to_end(workload, ops, setup_s: float) -> dict:
    walls = [op["wall_s"] for op in ops]
    return {
        "setup_s": (setup_s, "s"),
        "pages_per_s": (statistics.median(workload.n_pages / w for w in walls), "1/s"),
        "cpu_s": (statistics.median(op["cpu_s"] for op in ops), "s"),
    }


def per_layer(workload, ctx, tracer, ops, stream, peak_rss_mb: float) -> dict:
    n = len(ops)
    extras = dict.fromkeys(spans.EXTRAS, 0.0)
    results = [op["result"] for op in ops if op["error"] is None]
    if results:
        extras.update(workload.extras(ctx, tracer, results))
    out = {}
    for span, kinds in tracer.metrics().items():
        for kind, unit in spans.KINDS.items():
            v = kinds[kind]
            if kind != "task_skew" and span not in spans.ONCE:
                v /= n  # per timed operation
            out[f"{span}.{kind}"] = (v, unit)
    edges_wall = out["edges.wall_s"][0]
    extras["edges.pairs_per_s"] = extras["edges.pairs_scored"] / edges_wall if edges_wall else 0.0
    traced_s = sum(op["wall_s"] for op in ops)
    if stream is not None:
        extras["stream.batch_s"] = stream["wall_s"]
        traced_s += stream["wall_s"]
    extras["tracing.overhead_frac"] = tracer.overhead_s / traced_s
    extras["peak_rss_mb"] = peak_rss_mb
    out.update({k: (v, spans.EXTRAS[k]) for k, v in extras.items()})
    return out


def run(args) -> dict:
    workload = workloads.WORKLOADS[args.workload]
    traced = bool(args.trace)

    t = time.perf_counter()
    input_dir = workloads.ensure_input(os.path.join(STATE, "inputs"), workload, args.seed)
    path = os.path.join(input_dir, "pages")
    gen_s = time.perf_counter() - t
    log(f"{workload.name} seed {args.seed}: {workload.n_pages} pages ready in {gen_s:.2f}s "
        "(not part of setup_s)")

    # engine defaults, whatever the caller's environment overrides
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    # Python workers must import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work_dir = os.path.join(STATE, "work", f"{workload.name}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work_dir, ignore_errors=True)
    local_dirs = os.path.join(work_dir, "spark-local")
    os.makedirs(local_dirs)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    # temporary files (pyspark's gateway handshake, native libraries the
    # JVMs unpack, their perf data) stay in the checkout too
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f'-Djava.io.tmpdir="{tmp}" -XX:-UsePerfData'

    import pyarrow.parquet as pq

    spark = start_session(traced)
    try:
        pages = spark.read.parquet(path)
        urls = set(pq.read_table(path, columns=["url"]).column("url").to_pylist())
        ctx = workloads.Context(spark, pages, urls, os.path.join(work_dir, "ckpt"), input_dir)
        session_s = procfs.process_age_s() - gen_s
        workload.warm(ctx)  # cold costs land in setup_s
        setup_s = procfs.process_age_s() - gen_s
        log(f"setup {setup_s:.2f}s: session up at {session_s:.2f}s, then the warm-up")

        tracer = spans.Tracer(spark.sparkContext) if traced else spans.NullTracer()
        ops = workloads.timed_ops(ctx, workload, tracer, args.seconds,
                                  lambda: procfs.tree_usage().cpu_s)
        peak_rss_mb = procfs.tree_peak_rss_mb()
        for i, op in enumerate(ops):
            if op["error"] is None:
                try:
                    problems = workload.check(ctx, op["result"])
                except Exception as e:  # a check that cannot run fails the op
                    problems = [f"check raised {type(e).__name__}: {e}"]
                if problems:
                    op["error"] = "; ".join(problems)
            if op["error"] is not None:
                log(f"operation {i} FAILED: {op['error']}")
        stream = None
        if traced and workload.stream:
            stream = workloads.stream_batch(ctx, tracer)
            if stream["error"] is not None:
                log(f"stream micro-batch FAILED: {stream['error']}")
        if traced:
            metrics = per_layer(workload, ctx, tracer, ops, stream, peak_rss_mb)
        else:
            metrics = end_to_end(workload, ops, setup_s)
    finally:
        stop_session(spark)
    shutil.rmtree(work_dir, ignore_errors=True)

    # the traced run's micro-batch counts as one more operation
    checked = ops + ([stream] if stream is not None else [])
    attempted = len(checked)
    failed = sum(op["error"] is not None for op in checked)
    probes = host_probes()
    record = {
        "workload": workload.name, "seed": args.seed, "trace": args.trace,
        "n_pages": workload.n_pages, "input_gen_s": gen_s, "host_probes": probes,
        "ops": [{"wall_s": op["wall_s"], "cpu_s": op["cpu_s"], "error": op["error"]} for op in ops],
        "stream": stream,
        "failed_frac": failed / attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{workload.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"host probes: single-core {probes['single_core_ops_s'] / 1e6:.2f} Mops/s, "
        f"all-core {probes['all_core_ops_s'] / 1e6:.2f} Mops/s over {probes['procs']} procs")
    # human-readable lines on stdout; the JSON result line comes last
    print(f"failed_frac = {failed / attempted:.6g} fraction ({failed} of {attempted})")
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": record["metrics"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

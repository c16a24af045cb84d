"""Spans for the traced benchmark run.

Spark is lazy, so spans go around the public calls that run jobs. The
benchmark wraps engine module/class attributes for the traced run only
(``instrumented``) and restores them afterwards; the engine itself carries
no tracing code.

Each span sets its own Spark job group, so the status store attributes
every job (and through it every stage) to the innermost open span. Every
figure a span reports is therefore SELF cost: the span's wall time and
Python-worker CPU minus those of its child spans, and only the stages of
jobs that ran while it was innermost. Spans are kept in memory and turned
into metrics after the timed call has returned.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

import procfs

# The per-span metric kinds and their units, in output order.
KINDS = {
    "wall_s": "s",
    "task_cpu_s": "s",
    "py_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "fetch_wait_s": "s",
    "spill_mb": "MB",
    "task_skew": "ratio",
    "jobs": "count",
}

# Per-layer counters beyond the span kinds, and their units.
EXTRAS = {
    "edges.pairs_scored": "count",
    "edges.pairs_per_s": "1/s",
    "edges.match_ratio": "ratio",
    "block_keys.mega_blocks": "count",
    "block_keys.est_dropped_pairs": "count",
    "ckpt.out_mb": "MB",
    "ckpt.files": "count",
    "dedup.minhash.pairs": "count",
    "dedup.simhash.pairs": "count",
    # the timed micro-batch, from the call until its labels are counted
    "stream.batch_s": "s",
    "tracing.overhead_frac": "ratio",
    # summed VmHWM of the process tree: per layer, not end to end, because
    # the JVM heap's growth follows GC timing (spread 0.21 over ten seeds
    # of corpus_dedup on a 4-vCPU VM)
    "peak_rss_mb": "MB",
}

# ER spans, stream spans, then corpus spans. Every traced run reports all
# of them (the result line carries every per-layer metric), and spans that
# do not run on its workload read 0.
SPANS = ("pipeline", "records", "block_keys", "edges", "cc", "clusters", "ckpt",
         "stream.batch", "stream.cc", "stream.state_append",
         "corpus.tag", "dedup.minhash", "dedup.simhash")
# Spans that run once per traced run, not once per timed operation.
ONCE = ("ckpt", "stream.batch", "stream.cc", "stream.state_append")


@dataclass
class Span:
    name: str
    group: str
    t0: float
    py0: float
    t1: float = 0.0
    py1: float = 0.0
    children: list[Span] = field(default_factory=list)

    def self_wall(self) -> float:
        return (self.t1 - self.t0) - sum(c.t1 - c.t0 for c in self.children)

    def self_py(self) -> float:
        return (self.py1 - self.py0) - sum(c.py1 - c.py0 for c in self.children)


class NullTracer:
    """Stand-in for untraced runs: spans cost nothing and record nothing."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.done: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def open(self, name: str) -> None:
        """Push a span that stays open until ``close(name)``."""
        t = time.perf_counter()
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        span = Span(name, f"perfbench:{self._seq}:{name}", t, procfs.tree_usage().py_cpu_s)
        if parent is not None:
            parent.children.append(span)
        self._stack.append(span)
        self._set_group(span)
        span.t0 = time.perf_counter()
        self.overhead_s += span.t0 - t

    def is_open(self, name: str) -> bool:
        return any(s.name == name for s in self._stack)

    def close(self, name: str) -> None:
        """Pop spans down to and including the innermost one named ``name``."""
        t = time.perf_counter()
        py = procfs.tree_usage().py_cpu_s
        while self._stack:
            span = self._stack.pop()
            span.t1, span.py1 = t, py
            self.done.append(span)
            if span.name == name:
                break
        self._set_group(self._stack[-1] if self._stack else None)
        self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str):
        self.open(name)
        try:
            yield
        finally:
            self.close(name)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def opener(self, name: str, fn):
        """Open span ``name`` when ``fn`` is called; a later ``close`` ends it."""
        def traced(*args, **kwargs):
            if not self.is_open(name):
                self.open(name)
            return fn(*args, **kwargs)
        return traced

    # -- status store -------------------------------------------------------
    def metrics(self) -> dict[str, dict[str, float]]:
        """{span name: {kind: value}} for every span in SPANS; spans that
        did not run on this workload read 0."""
        by_group = _stage_metrics_by_group(self.sc)
        out = {name: dict.fromkeys(KINDS, 0.0) for name in SPANS}
        skew_sums: dict[str, list[float]] = {name: [0.0, 0.0] for name in SPANS}
        for span in self.done:
            m = out.setdefault(span.name, dict.fromkeys(KINDS, 0.0))
            m["wall_s"] += span.self_wall()
            m["py_cpu_s"] += span.self_py()
            g = by_group.get(span.group)
            if g is None:
                continue
            for k in ("task_cpu_s", "shuffle_write_mb", "fetch_wait_s", "spill_mb", "jobs"):
                m[k] += g[k]
            skew = skew_sums.setdefault(span.name, [0.0, 0.0])
            skew[0] += g["max_task_s"]
            skew[1] += g["median_task_s"]
        for name, (mx, med) in skew_sums.items():
            out[name]["task_skew"] = mx / med if med > 0 else 0.0
        return out


def _stage_metrics_by_group(sc) -> dict[str, dict[str, float]]:
    """Aggregate the status store's stage data per job group.

    A shuffle stage shared by several jobs is listed in each of them but
    runs once (later jobs skip it), so it is attributed to the lowest job
    id that lists it. ``task_skew`` sums, per stage, the max and the median
    task run time (a stage waits for its slowest task)."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    jobs = store.jobsList(None)
    owner: dict[int, tuple[int, str]] = {}
    group_jobs: dict[str, int] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not g.isDefined() or not str(g.get()).startswith("perfbench:"):
            continue
        group, job_id = str(g.get()), job.jobId()
        group_jobs[group] = group_jobs.get(group, 0) + 1
        ids = job.stageIds()
        for j in range(ids.size()):
            sid = ids.apply(j)
            if sid not in owner or job_id < owner[sid][0]:
                owner[sid] = (job_id, group)

    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {
        g: {"task_cpu_s": 0.0, "shuffle_write_mb": 0.0, "fetch_wait_s": 0.0,
            "spill_mb": 0.0, "jobs": float(n), "max_task_s": 0.0, "median_task_s": 0.0}
        for g, n in group_jobs.items()
    }
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                             gw.jvm.java.util.ArrayList())
    for i in range(stages.size()):
        st = stages.apply(i)
        if str(st.status()) != "COMPLETE" or st.stageId() not in owner:
            continue
        m = out[owner[st.stageId()][1]]
        m["task_cpu_s"] += st.executorCpuTime() / 1e9
        m["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        m["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
        m["spill_mb"] += st.diskBytesSpilled() / 2**20
        summary = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            m["median_task_s"] += run.apply(0) / 1e3
            m["max_task_s"] += run.apply(1) / 1e3
    return out


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Wrap the ER pipeline's job-running calls with spans; restore on exit.

    * ``run_pipeline`` -> ``pipeline`` (its self time is the driver-side
      work between stages: checkpoint reads, collects, the QA aggregate);
    * ``CheckpointStore.write(stage)`` materializes that stage, so it ends
      the ``records``/``block_keys``/``edges``/``clusters`` span;
    * ``salt_mega_blocks`` and ``candidate_pairs`` open the ``block_keys``
      and ``edges`` spans early, because the pipeline runs a job between
      them and the write (the mega-block collect, the pair count);
    * ``connected_components`` runs its rounds eagerly -> ``cc``.
    """
    import fia_own_map_spark.plans.pipeline as pipeline
    from fia_own_map_spark.sources.checkpoint import CheckpointStore

    write = CheckpointStore.write

    def traced_write(store, stage, *args, **kwargs):
        if not tracer.is_open(stage):
            tracer.open(stage)
        try:
            return write(store, stage, *args, **kwargs)
        finally:
            tracer.close(stage)

    patches = [
        (pipeline, "run_pipeline", tracer.wrap("pipeline", pipeline.run_pipeline)),
        (pipeline, "connected_components", tracer.wrap("cc", pipeline.connected_components)),
        (pipeline, "salt_mega_blocks", tracer.opener("block_keys", pipeline.salt_mega_blocks)),
        (pipeline, "candidate_pairs", tracer.opener("edges", pipeline.candidate_pairs)),
        (CheckpointStore, "write", traced_write),
    ]
    with _patched(patches):
        yield


@contextlib.contextmanager
def instrumented_stream(tracer: Tracer):
    """Wrap the micro-batch's job-running calls with spans; restore on exit.

    * ``connected_components`` (as imported by ``streaming.ingest``) runs
      its rounds eagerly -> ``stream.cc``;
    * ``DeltaStateStore.append`` writes each state delta, which runs the
      batch's stage 0, blocking and relabelling jobs -> ``stream.state_append``.
    The caller opens ``stream.batch`` around ``process_batch`` and the count
    of the labels it returns.
    """
    import fia_own_map_spark.streaming.ingest as ingest

    patches = [
        (ingest, "connected_components", tracer.wrap("stream.cc", ingest.connected_components)),
        (ingest.DeltaStateStore, "append",
         tracer.wrap("stream.state_append", ingest.DeltaStateStore.append)),
    ]
    with _patched(patches):
        yield


@contextlib.contextmanager
def _patched(patches: list):
    """Set each ``(owner, name, fn)`` attribute; restore the originals on exit."""
    saved = [(owner, name, getattr(owner, name)) for owner, name, _ in patches]
    try:
        for owner, name, fn in patches:
            setattr(owner, name, fn)
        yield
    finally:
        for owner, name, fn in saved:
            setattr(owner, name, fn)

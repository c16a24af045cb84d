"""The benchmark's workloads: seeded inputs, one timed operation through
the engine's public entry points, and the output checks.

Why these workloads (each stresses layers the others bypass):

* ``er_similarity`` — ``run_pipeline(score_mode="similarity")``: the only
  workload where ``operators.scoring`` / ``functions.similarity`` score
  candidate pairs and mega-block salting drops pairs (5% mega entity).
* ``corpus_dedup`` — ``tag_corpus``, ``minhash_lsh_pairs`` and
  ``simhash_dup_pairs`` over the pages' text: ``operators.corpus``,
  ``operators.text`` and ``operators.dedup``, no ER layer at all.

The traced ``er_similarity`` run also feeds one ``IncrementalER`` micro-batch
(``stream_batch``), the only path that writes ``DeltaStateStore`` state.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import pandas as pd

import spans

ROW_GROUP = 128  # small row groups so the default scan splits across cores
N_FILES = 8


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    warm: Callable  # (ctx) -> None, untimed, before the timed operations
    op: Callable  # (ctx, tracer, i) -> result of one timed operation
    check: Callable  # (ctx, result) -> list of failure messages
    extras: Callable  # (ctx, tracer, results) -> {metric: value}, traced run only
    stream: bool = False  # the traced run also times one stream micro-batch


@dataclass
class Context:
    spark: object
    pages: object  # Spark DataFrame over the cached input parquet
    urls: set
    work_dir: str
    input_dir: str
    texts: dict | None = None
    records: pd.DataFrame | None = None  # stage-0 records, for the oracle
    gold: pd.DataFrame | None = None


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------
STREAM_BATCH = 500  # pages in the timed micro-batch


def ensure_input(cache_root: str, workload: Workload, seed: int) -> str:
    """Generate the workload's pages from ``seed`` once and cache them under
    the returned directory: ``pages/`` as several parquet files with small
    row groups, so the default scan splits across all cores, and, for a
    workload with a stream, ``stream/batch-0/`` with the micro-batch (its
    first pages) in one parquet file, as a file-source ``foreachBatch``
    sees it."""
    path = os.path.join(cache_root, f"{workload.name}-n{workload.n_pages}-s{seed}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fia_own_map_spark.sources.webpages import generate_web_pages

    pages, _truth = generate_web_pages(n_pages=workload.n_pages, seed=seed)
    # pandas' nanosecond timestamps are not readable by Spark
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    table = pa.Table.from_pandas(pages, preserve_index=False)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages"))
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(tmp, "pages", f"part-{i:03d}.parquet"),
                       row_group_size=ROW_GROUP)
    if workload.stream:
        d = os.path.join(tmp, "stream", "batch-0")
        os.makedirs(d)
        pq.write_table(table.slice(0, STREAM_BATCH), os.path.join(d, "part-000.parquet"),
                       row_group_size=ROW_GROUP)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# ER workloads
# ---------------------------------------------------------------------------
# The engine default (200) is sized for corpora of 50k+ pages; scaled to
# this workload's 2,000 pages so mega-block salting (and its dropped-pair
# estimate) still does real work.
MAX_BLOCK_SIZE = 8


def _er_warm(ctx: Context) -> None:
    """Stage 0 on a 5% sample: its chain of pandas UDFs (html extract,
    normalize, phonetic) forks one Python worker per UDF per concurrent
    task on first use, the largest cold cost of a job. The first timed job
    is then the process's first full job, as in a batch run. A whole
    warm-up job adds 20 s per run and, on a 4-vCPU VM, measured no steadier
    (pages_per_s spread 0.155 over ten seeds, against 0.097 with this one)."""
    from fia_own_map_spark.plans.pipeline import stage0_records

    sample = ctx.pages.sample(fraction=0.05, seed=0)
    stage0_records(sample).write.format("noop").mode("overwrite").save()


def _er_op(ctx: Context, tracer, i) -> tuple:
    import fia_own_map_spark.plans.pipeline as pipeline
    from fia_own_map_spark.config import EngineConfig
    from fia_own_map_spark.sources.checkpoint import CheckpointStore

    cfg = EngineConfig(score_mode="similarity", max_block_size=MAX_BLOCK_SIZE,
                       checkpoint_root=ctx.work_dir)
    store = CheckpointStore(ctx.work_dir, f"job{i}")
    traced = isinstance(tracer, spans.Tracer)
    with spans.instrumented(tracer) if traced else contextlib.nullcontext():
        # module attribute, so the traced run goes through the wrapper
        clusters, metrics = pipeline.run_pipeline(ctx.spark, ctx.pages, cfg, checkpoints=store)
    return clusters, metrics, store, cfg


def _er_check(ctx: Context, result) -> list[str]:
    from fia_own_map_spark.testing.oracle import oracle_clusters, pairwise_prf

    clusters, metrics, store, _cfg = result
    bad = []
    if not metrics["rows_in"] == metrics["rows_out"] == len(ctx.urls):
        bad.append(f"rows_in {metrics['rows_in']} rows_out {metrics['rows_out']} "
                   f"pages {len(ctx.urls)}")
    pred = clusters.select("url", "cluster_id").toPandas()
    if pred["url"].duplicated().any() or set(pred["url"]) != ctx.urls:
        bad.append("output urls are not the input urls, once each")
    mins = pred.groupby("cluster_id")["url"].min()
    if not (mins.index == mins.values).all():
        bad.append("a cluster_id is not its members' min url")
    if ctx.gold is None:
        ctx.records = store.read(ctx.spark, "records").select(
            "url", "owner1", "owner2", "own_type", "initial_class", "comb_addr"
        ).toPandas()
        ctx.gold = oracle_clusters(ctx.records)
    # a similarity partition refines the exact-key (oracle) partition, so
    # every pair it puts together the oracle puts together too
    prf = pairwise_prf(pred, ctx.gold)
    if prf["precision"] != 1.0:
        bad.append(f"pairwise precision vs oracle_clusters {prf['precision']}")
    return bad


def _er_extras(ctx: Context, tracer, results: list) -> dict[str, float]:
    """Stage counters from the checkpoint manifests, per operation, plus the
    ``ckpt`` span: a rerun over the committed checkpoints (every stage
    skips), which costs the checkpoint reads and the final QA aggregate."""
    import fia_own_map_spark.plans.pipeline as pipeline

    n = len(results)
    out = {"edges.pairs_scored": 0.0, "edges.match_ratio": 0.0,
           "block_keys.mega_blocks": 0.0, "block_keys.est_dropped_pairs": 0.0,
           "ckpt.out_mb": 0.0, "ckpt.files": 0.0}
    for _clusters, metrics, _store, _cfg in results:
        st = metrics["stages"]
        pairs = st["edges"].get("pairs_scored") or 0
        out["edges.pairs_scored"] += pairs / n
        if pairs:
            out["edges.match_ratio"] += st["edges"]["rows_out"] / pairs / n
        out["block_keys.mega_blocks"] += st["block_keys"].get("mega_blocks", 0) / n
        out["block_keys.est_dropped_pairs"] += st["block_keys"].get("est_dropped_pairs", 0) / n
        for m in st.values():
            out["ckpt.out_mb"] += sum(p["n_bytes"] for p in m["partitions"]) / 2**20 / n
            out["ckpt.files"] += m["n_partitions"] / n
    _clusters, _metrics, store, cfg = results[-1]
    with tracer.span("ckpt"):
        pipeline.run_pipeline(ctx.spark, ctx.pages, cfg, checkpoints=store)
    return out


def _partition(labels: pd.DataFrame) -> set[frozenset]:
    return {frozenset(g) for _, g in labels.groupby("cluster_id")["url"]}


def stream_batch(ctx: Context, tracer) -> dict:
    """One ``IncrementalER.process_batch`` micro-batch over the cached batch
    dir, inside the ``stream.batch`` span, from the call until the returned
    labels are counted. It is the first batch into empty state: a batch
    costs about as much at 100 pages as at 500, so a seeding batch would
    double the run. The labels must partition the batch's pages exactly as
    ``oracle_clusters`` does (the incremental partition equals the
    exact-key batch partition). Returns ``{"wall_s", "error"}``."""
    import pyarrow.parquet as pq

    from fia_own_map_spark.streaming.ingest import IncrementalER
    from fia_own_map_spark.testing.oracle import oracle_clusters

    inc = IncrementalER(ctx.spark, os.path.join(ctx.work_dir, "stream-state"))
    path = os.path.join(ctx.input_dir, "stream", "batch-0")
    wall, error = 0.0, None
    try:
        batch = ctx.spark.read.parquet(path)
        with spans.instrumented_stream(tracer):
            t0 = time.perf_counter()
            with tracer.span("stream.batch"):
                labels = inc.process_batch(batch, 0)
                n_labels = labels.count()
            wall = time.perf_counter() - t0
        pred = labels.select("url", "cluster_id").toPandas()
        ingested = set(pq.read_table(path, columns=["url"]).column("url").to_pylist())
        gold = oracle_clusters(ctx.records[ctx.records["url"].isin(ingested)])
        if n_labels != len(ingested) or set(pred["url"]) != ingested:
            error = f"stream labels {n_labels} rows for {len(ingested)} ingested pages"
        elif _partition(pred) != _partition(gold):
            error = "stream partition differs from oracle_clusters over the ingested pages"
    except Exception as e:  # counted as a failed operation
        error = f"{type(e).__name__}: {e}"
    return {"wall_s": wall, "error": error}


# ---------------------------------------------------------------------------
# corpus / dedup workload
# ---------------------------------------------------------------------------
TAGS = {"exact_dup", "empty", "low_quality", "lang", "kept"}
# every tag_corpus output column but the text ones (input text, clean_text)
TAG_COLS = ("url", "drop_stage", "n_tokens_clean", "n_tokens_removed_spans",
            "quality_score", "lang_pred")
PAIR_SAMPLE = 50


def _docs(ctx: Context):
    return ctx.pages.select("url", "text")


def _corpus_warm(ctx: Context) -> None:
    """One whole untimed operation. After a warm-up on a small slice the
    first timed operation ran 20-30% slower than the next (the JIT had not
    yet compiled the per-row paths only a full-size input makes hot)."""
    _corpus_op(ctx, spans.NullTracer(), "warm")


def _corpus_op(ctx: Context, tracer, i):
    from fia_own_map_spark.operators.corpus import tag_corpus
    from fia_own_map_spark.operators.dedup import minhash_lsh_pairs, simhash_dup_pairs

    docs = _docs(ctx)
    with tracer.span("corpus.tag"):
        tags = tag_corpus(docs, id_col="url").select(*TAG_COLS).toPandas()
    with tracer.span("dedup.minhash"):
        mh = minhash_lsh_pairs(docs, id_col="url").toPandas()
    with tracer.span("dedup.simhash"):
        sh = simhash_dup_pairs(docs, id_col="url").toPandas()
    return tags, mh, sh


def _shingles_py(text: str, k: int = 3) -> set[str]:
    """Python mirror of ``dedup.word_shingles``."""
    from fia_own_map_spark.operators.dedup import normalized_words_py

    words = normalized_words_py(text)
    if len(words) < k:
        return {" ".join(words)}
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def _corpus_check(ctx: Context, result) -> list[str]:
    from fia_own_map_spark.operators.dedup import _simhash64

    tags, mh, sh = result
    bad = []
    if tags["url"].duplicated().any() or set(tags["url"]) != ctx.urls:
        bad.append("tag_corpus did not tag every input row exactly once")
    if not set(tags["drop_stage"]) <= TAGS:
        bad.append(f"unknown tags {set(tags['drop_stage']) - TAGS}")
    if (tags[["n_tokens_clean", "n_tokens_removed_spans"]] < 0).any(axis=None):
        bad.append("negative token counts")
    dup = tags[tags["drop_stage"] == "exact_dup"]
    if (dup[["n_tokens_clean", "n_tokens_removed_spans"]] != 0).any(axis=None):
        bad.append("exact_dup rows with non-zero token counts")
    if (tags.loc[tags["drop_stage"] == "empty", "n_tokens_clean"] != 0).any():
        bad.append("empty rows with clean tokens")
    if (tags.loc[tags["drop_stage"] == "kept", "n_tokens_clean"] <= 0).any():
        bad.append("kept rows without clean tokens")
    if ctx.texts is None:
        ctx.texts = dict(_docs(ctx).toPandas().itertuples(index=False, name=None))
    rng = random.Random(0)
    for name, pairs in (("minhash", mh), ("simhash", sh)):
        if pairs.duplicated(["id_a", "id_b"]).any() or (pairs["id_a"] >= pairs["id_b"]).any():
            bad.append(f"{name} pairs are not unique id_a < id_b rows")
    for row in mh.sample(min(PAIR_SAMPLE, len(mh)), random_state=rng.randrange(2**31)).itertuples():
        a, b = _shingles_py(ctx.texts[row.id_a]), _shingles_py(ctx.texts[row.id_b])
        jac = len(a & b) / len(a | b)
        if abs(jac - row.jaccard) > 1e-9 or jac < 0.5:
            bad.append(f"minhash pair {row.id_a} {row.id_b}: jaccard {row.jaccard} vs {jac}")
    for row in sh.sample(min(PAIR_SAMPLE, len(sh)), random_state=rng.randrange(2**31)).itertuples():
        fa = _simhash64(ctx.texts[row.id_a].lower().split())
        fb = _simhash64(ctx.texts[row.id_b].lower().split())
        ham = bin((fa ^ fb) & (2**64 - 1)).count("1")
        if ham != row.hamming or ham > 3:
            bad.append(f"simhash pair {row.id_a} {row.id_b}: hamming {row.hamming} vs {ham}")
    return bad


def _corpus_extras(ctx: Context, tracer, results: list) -> dict[str, float]:
    n = len(results)
    return {
        "dedup.minhash.pairs": sum(len(mh) for _tags, mh, _sh in results) / n,
        "dedup.simhash.pairs": sum(len(sh) for _tags, _mh, sh in results) / n,
    }


WORKLOADS = {
    w.name: w
    for w in (
        Workload("er_similarity", 2000, _er_warm, _er_op, _er_check, _er_extras,
                 stream=True),
        Workload("corpus_dedup", 10000, _corpus_warm, _corpus_op, _corpus_check,
                 _corpus_extras),
    )
}


def timed_ops(ctx: Context, workload: Workload, tracer, seconds: float, usage) -> list[dict]:
    """Run the workload's operation back to back (a closed loop, one caller)
    until ``seconds`` have passed, at least once. ``usage`` reads the
    process tree's cumulative CPU."""
    ops = []
    t_end = time.perf_counter() + seconds
    while not ops or time.perf_counter() < t_end:
        cpu0, t0 = usage(), time.perf_counter()
        error, result = None, None
        try:
            result = workload.op(ctx, tracer, len(ops))
        except Exception as e:  # counted as a failed operation
            error = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        ops.append({"wall_s": wall, "cpu_s": usage() - cpu0, "error": error, "result": result})
    return ops

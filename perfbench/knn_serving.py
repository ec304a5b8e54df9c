"""knn_serving: closed-loop single-vector top-10 lookups against a
persisted IVF-PQ index, with one index write after every nine lookups.

One client thread; each lookup builds its one-row query relation with
``session.local_relation`` and collects
``operators.ann_index.probe_ivfpq_index``. Each write appends 100 new
vectors (``append_to_ivfpq_index``), publishes the next version
(``publish_ivfpq_version``) and reopens it (``read_latest_ivfpq``).
Reads and writes share the ``operators.ann_index`` layer, so a read
speed-up that costs appends or space shows here.

Unit operation: one lookup. Unit of work: one lookup, counted over the
timed lookups and writes together. Set-up: session start, vector
generation, index build + first publish + open, WARMUP_LOOKUPS warm-up
lookups.
A run makes at least one (write, 9 lookups) cycle and keeps going
until ``--seconds`` of timed work is done.

Checks, all untimed: every lookup returns exactly 10 distinct rows;
after each write the appended batch's first vector reads back in the
top 10 of its own cell (read-your-writes); recall@10 against numpy
brute force over all live vectors.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np

import gen
from tracing import dir_bytes, median, quantile

N_VECTORS = 10_000
DIM = 64
K = 10
INDEX = {"n_cells": 16, "m": 8, "n_codes": 16}
N_PROBE = 4
LOOKUPS_PER_WRITE = 9
# a fresh driver JVM's lookup latency falls by about a fifth over its
# first dozen lookups as the planner and probe path get JIT-compiled;
# with fewer warm-ups the timed lookups sit on that slope and runs
# disagree
WARMUP_LOOKUPS = 12
MIN_CYCLES = 1
APPEND_BATCH = 100
SCHEMA = "vec_id long, embedding array<double>"
SPANS = ("session.local_relation", "operators.ann_index.probe_build",
         "operators.ann_index.probe_exec", "operators.ann_index.append",
         "operators.ann_index.publish", "operators.ann_index.reopen")
# per-layer metrics of the traced run: per-lookup and per-write median
# self times, then counts
PER_LAYER = {
    **{f"{s}_s": "s" for s in SPANS},
    "operators.ann_index.jobs_per_lookup": "count",
    "operators.ann_index.tasks_per_lookup": "count",
    "operators.ann_index.files_read_bytes_per_lookup": "bytes",
    "operators.ann_index.published_bytes": "bytes",
    "operators.ann_index.appended_bytes": "bytes",
    "operators.ann_index.write_amp": "x",
    "operators.ann_index.space_amp": "x",
    "operators.ann_index.recall_at_10": "ratio",
}


def run(ctx) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from scotustician_spark.operators import ann_index
    from scotustician_spark.session import local_relation

    spark, tr = ctx.spark, ctx.tracer
    centres = gen.mixture_centres(ctx.seed, DIM)
    rng = np.random.default_rng([ctx.seed, 1])
    base = gen.mixture_points(centres, rng, N_VECTORS)
    corpus_path = os.path.join(ctx.work, "vectors.parquet")
    pq.write_table(pa.table({
        "vec_id": np.arange(N_VECTORS, dtype=np.int64),
        "embedding": pa.array(list(base), type=pa.list_(pa.float64())),
    }), corpus_path)
    root = os.path.join(ctx.work, "index")

    index = ann_index.build_ivfpq_index(spark.read.parquet(corpus_path), DIM, **INDEX)
    ann_index.publish_ivfpq_version(index, root)
    index = ann_index.read_latest_ivfpq(spark, root)

    live = [base]
    next_id = N_VECTORS
    problems: list[str] = []
    published = 0  # bytes the timed publishes added under the index root

    def span(name):
        return tr.span(name) if tr else nullcontext()

    def lookup(q: np.ndarray):
        """One timed lookup; returns (wall seconds, result rows). The
        query id is -1: the probe drops neighbours whose id equals the
        query's, so a real id would hide the vector itself."""
        t0 = time.perf_counter()
        with span("lookup"):
            with span("session.local_relation"):
                qdf = local_relation(spark, [(-1, q.tolist())], SCHEMA)
            with span("operators.ann_index.probe_build"):
                res = ann_index.probe_ivfpq_index(index, qdf, k=K, n_probe=N_PROBE)
            with span("operators.ann_index.probe_exec"):
                rows = res.collect()
        return time.perf_counter() - t0, rows

    def write(vecs: np.ndarray, first_id: int):
        nonlocal index, published
        before = dir_bytes(root) if tr else 0
        t0 = time.perf_counter()
        with span("write"):
            rows = [(first_id + i, v.tolist()) for i, v in enumerate(vecs)]
            with span("operators.ann_index.append"):
                delta = local_relation(spark, rows, SCHEMA)
                grown = ann_index.append_to_ivfpq_index(index, delta)
            with span("operators.ann_index.publish"):
                ann_index.publish_ivfpq_version(grown, root)
            with span("operators.ann_index.reopen"):
                index = ann_index.read_latest_ivfpq(spark, root)
        dt = time.perf_counter() - t0
        if tr:
            published += dir_bytes(root) - before
        return dt

    for q in gen.queries_near(rng, base, WARMUP_LOOKUPS):
        lookup(q)
    ctx.setup_done()

    lookups, writes, recalls = [], [], []
    attempted = failed = 0
    spark_counts: dict = {}

    def serve(q: np.ndarray) -> None:
        nonlocal attempted, failed
        if ctx.counters:
            with ctx.counters.measure(spark_counts, "lookup"):
                dt, rows = lookup(q)
        else:
            dt, rows = lookup(q)
        lookups.append(dt)
        # checks, outside the timed region
        attempted += 1
        ids = [r["neighbor_id"] for r in rows]
        if len(ids) != K or len(set(ids)) != K:
            failed += 1
            problems.append(f"lookup returned {len(ids)} rows, {len(set(ids))} distinct")
        allv = np.concatenate(live)
        truth = np.argpartition(((allv - q) ** 2).sum(1), K)[:K]
        recalls.append(len(set(truth.tolist()) & set(ids)) / K)

    def read_your_write(vec_id: int, v: np.ndarray) -> bool:
        """Untimed: the reopened index must return the appended vector
        in the top-K of its own cell. Within one cell no code gives a
        smaller ADC distance than the vector's own, so it is missing
        only when K or more vectors share that distance and the probe's
        lower-id tie-break drops it; then the probe's own codes must
        hold it: m codes (j = 0..m-1) in the cell the probe served.
        (Across the n_probe cells of a served lookup, other cells'
        residuals can rank below it.)"""
        qdf = local_relation(spark, [(-1, v.tolist())], SCHEMA)
        rows = ann_index.probe_ivfpq_index(index, qdf, k=K, n_probe=1).collect()
        if vec_id in {r["neighbor_id"] for r in rows}:
            return True
        tied = len(rows) == K and len({r["approx_d2"] for r in rows}) == 1
        if tied:
            other = rows[0]["neighbor_id"]
            codes = index.codes.filter(f"cid IN ({vec_id}, {other})").collect()
            served = {r["cell"] for r in codes if r["cid"] == other}
            mine = sorted((r["cell"], r["j"]) for r in codes if r["cid"] == vec_id)
            if len(served) == 1 and mine == [(c, j) for c in served for j in range(INDEX["m"])]:
                return True
        problems.append(f"appended vector {vec_id} missing from its own cell's top-{K}")
        return False

    def near() -> np.ndarray:
        return gen.queries_near(rng, base, 1)[0]

    # closed loop of (1 write, 9 lookups) cycles, at least MIN_CYCLES
    # and until the time is up; after each write, an untimed check that
    # the batch's first vector reads back (read-your-writes)
    while len(writes) < MIN_CYCLES or sum(writes) + sum(lookups) < ctx.seconds:
        new = gen.mixture_points(centres, rng, APPEND_BATCH)
        writes.append(write(new, next_id))
        live.append(new)
        attempted += 1
        failed += 0 if read_your_write(next_id, new[0]) else 1
        next_id += APPEND_BATCH
        for _ in range(LOOKUPS_PER_WRITE):
            serve(near())
    served_s = sum(writes) + sum(lookups)

    n_live = sum(len(v) for v in live)
    live_bytes = n_live * DIM * 8
    index_bytes = dir_bytes(root)
    detail = {
        "lookup_p50_ms": (median(lookups) * 1000, "ms", len(lookups)),
        "lookup_p90_ms": (quantile(lookups, 0.9) * 1000, "ms", len(lookups)),
        "append_p50_s": (median(writes), "s", len(writes)),
        "knn_recall_at_10": (float(np.mean(recalls)), "ratio", len(recalls)),
        "index_space_amp": (index_bytes / live_bytes, "x", 1),
        "index_bytes": (index_bytes, "bytes", 1),
        "live_vector_bytes": (live_bytes, "bytes", 1),
        "live_vectors": (n_live, "count", 1),
    }
    result = {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "detail": detail,
        "e2e": {
            "op_p50_ms": median(lookups) * 1000,
            "op_p90_ms": quantile(lookups, 0.9) * 1000,
            "work_per_s": len(lookups) / served_s,
        },
    }
    if tr:
        by = tr.self_time_by_name()
        n = len(lookups)
        appended_bytes = len(writes) * APPEND_BATCH * DIM * 8
        per_layer = {f"{name}_s": median(by.get(name, [0.0])) for name in SPANS}
        per_layer.update({
            "operators.ann_index.jobs_per_lookup": spark_counts.get("jobs", 0) / n,
            "operators.ann_index.tasks_per_lookup": spark_counts.get("tasks", 0) / n,
            "operators.ann_index.files_read_bytes_per_lookup":
                spark_counts.get("files_read_bytes", 0) / n,
            "operators.ann_index.published_bytes": published,
            "operators.ann_index.appended_bytes": appended_bytes,
            "operators.ann_index.write_amp": published / appended_bytes,
            "operators.ann_index.space_amp": index_bytes / live_bytes,
            "operators.ann_index.recall_at_10": float(np.mean(recalls)),
        })
        result["per_layer"] = per_layer
    return result

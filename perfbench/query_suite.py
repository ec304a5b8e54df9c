"""query_suite: the analyst's workload, registry queries forced
through the noop sink over seeded star-schema, events, documents and
embeddings tables.

The suite is a fixed slice of the registry's ``bench=True`` queries:
one from each of nine query modules, covering the relational, text
dedup, graph, window, temporal and vector families and two of the
heaviest tail queries (``source_overlap_auto``, ``duplicate_spans``).
The ANN family of ``multimodal_ann`` is left to ``knn_serving``, which
measures ``operators.ann_index`` directly; ``vectors_text`` is left
out for time. The full 72-query set does not fit the benchmark's time
budget: one warm-up plus one pass takes over two minutes on a 4-core
host.

Unit operation: one query execution (registry ``fn(spark, dir)`` plus
the noop write). Unit of work: one query execution. Set-up: session
start, table generation, one warm-up pass that collects every query's
rows (persisted builds, JIT and first-touch costs land here) and one
noop write. The collected rows are checked against each query's DuckDB
oracle after the timed passes. Each timed pass runs the suite in a seeded order; a run
makes at least one pass and keeps going until ``--seconds`` is up.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import random
import time

import gen
from tracing import median, quantile

QUERIES = (
    "star_join_revenue",       # relational
    "source_overlap_auto",     # corpus_q
    "duplicate_spans",         # quality_q
    "copurchase_triangles",    # audit_q
    "window_ranks",            # analytics_q
    "event_sessions",          # events_windows
    "asof_prior_purchase",     # temporal_q
    "cluster_topk_neighbors",  # ml_analysis
    "embed_documents",         # embedding_q
)
MIN_PASSES = 1
QUERY_MODULES = ("relational", "vectors_text", "corpus_q", "quality_q", "multimodal_ann",
                 "audit_q", "analytics_q", "events_windows", "temporal_q", "ml_analysis",
                 "embedding_q")
COUNTS = ("jobs", "tasks", "shuffle_bytes", "files_read_bytes")
# per-layer metrics of the traced run: per-execution medians, per-module
# sums per pass, counts per pass
PER_LAYER = {
    "plans.build_s": "s",
    "plans.exec_s": "s",
    **{f"plans.{m}.{p}_s": "s" for m in QUERY_MODULES for p in ("build", "exec")},
    **{f"plans.{k}": "bytes" if k.endswith("bytes") else "count" for k in COUNTS},
}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings"
# Oracles that round a double sum to cents, with that sum restated
# exactly in DECIMAL (query -> (rounded expression, exact expression,
# column)). Prices sit on a cent grid and discounts on whole percents,
# so a group's exact revenue ends on a half cent about once in 100
# groups. Its double sum then lies within an ulp of the midpoint, on
# the side that the engine's summation order picks, and rounding it
# gives either neighbouring cent: both are right, and DuckDB's cent is
# no better a reference than Spark's.
CENT_SUMS = {
    "star_join_revenue": (
        "round(sum(l_extendedprice * (1 - l_discount)), 2)",
        "sum(CAST(l_extendedprice AS DECIMAL(15,2)) * (1 - CAST(l_discount AS DECIMAL(15,2))))",
        "revenue",
    ),
}


def _cell(v) -> str:
    """The oracle-comparison cell rule: floats fixed at 6 decimals, so
    a sub-cent difference shows at any magnitude (6 significant digits
    would merge 2121381.89 and 2121381.88)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(cols: list[str], rows) -> tuple[int, list[str], str]:
    """(row count, sorted column names, order-insensitive value hash):
    the rule of the repo's oracle-parity tests, restated here so that a
    change to the program cannot change the check of its own output."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), sorted(cols), h


def midpoint_cells(con, q, cols: list[str], rows) -> int | None:
    """Compare ``rows`` with the exact restatement of ``q``'s oracle
    (``CENT_SUMS``): every cell must match under the 6-decimal rule,
    except that the rounded column may take either cent next to an
    exact half-cent midpoint. Returns the number of midpoint cells, or
    None on any other difference."""
    rounded, exact, col = CENT_SUMS[q.name]
    if rounded not in q.oracle:
        return None
    res = con.execute(q.oracle.replace(rounded, exact))
    ocols = [d[0] for d in res.description]
    if sorted(ocols) != sorted(cols):
        return None
    key = sorted(c for c in cols if c != col)

    def keyed(cs, rs):
        return {tuple(_cell(r[cs.index(c)]) for c in key): r[cs.index(col)] for r in rs}

    want, have = keyed(ocols, res.fetchall()), keyed(cols, rows)
    if len(rows) != len(want) or want.keys() != have.keys():
        return None
    mids = 0
    for k, e in want.items():
        cents = e * 100
        lo = cents.to_integral_value(rounding=decimal.ROUND_FLOOR)
        if cents - lo == decimal.Decimal("0.5"):
            mids += 1
            ok = (lo, lo + 1)
        else:
            ok = (cents.to_integral_value(rounding=decimal.ROUND_HALF_EVEN),)
        if _cell(have[k]) not in {_cell(float(c / 100)) for c in ok}:
            return None
    return mids


def run(ctx) -> dict:
    import duckdb

    from scotustician_spark.plans import QUERY_REGISTRY

    spark, tr = ctx.spark, ctx.tracer
    data = os.path.join(ctx.work, "tables")
    table_rows = gen.write_tables(data, ctx.seed)
    queries = [QUERY_REGISTRY[n] for n in QUERIES]

    # set-up: warm-up pass, keeping each query's rows for the checks
    got, kept = {}, {}
    for q in queries:
        df = q.fn(spark, data)
        rows = [tuple(r) for r in df.collect()]
        got[q.name] = fingerprint(df.columns, rows)
        if q.name in CENT_SUMS:
            kept[q.name] = (df.columns, rows)
    # the noop sink's first use in a JVM costs a few hundred ms, which
    # would land on whichever query a seed's order puts first
    QUERY_REGISTRY["window_ranks"].fn(spark, data).write.format("noop").mode("overwrite").save()
    ctx.setup_done()

    rng = random.Random(ctx.seed)
    walls, passes = [], []
    build = {q.name: [] for q in queries}
    execs = {q.name: [] for q in queries}
    pass_counts: list[dict] = []
    while len(passes) < MIN_PASSES or sum(passes) < ctx.seconds:
        order = list(queries)
        rng.shuffle(order)
        total = 0.0
        counts: dict = {}
        for q in order:
            if tr:
                with ctx.counters.measure(counts, q.name), tr.span(f"query.{q.name}"):
                    t0 = time.perf_counter()
                    with tr.span("plans.build"):
                        df = q.fn(spark, data)
                    t1 = time.perf_counter()
                    with tr.span("plans.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            else:
                t0 = time.perf_counter()
                df = q.fn(spark, data)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            build[q.name].append(t1 - t0)
            execs[q.name].append(t2 - t1)
            walls.append(t2 - t0)
            total += t2 - t0
        passes.append(total)
        pass_counts.append(counts)

    # checks against the DuckDB oracles, outside every timed region
    con = duckdb.connect()
    for t in TABLES.split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    problems, bad, mids = [], [], 0
    for q in queries:
        res = con.execute(q.oracle)
        want = fingerprint([d[0] for d in res.description], res.fetchall())
        if got[q.name] == want:
            continue
        n_mid = midpoint_cells(con, q, *kept[q.name]) if q.name in CENT_SUMS else None
        if n_mid:
            mids += n_mid
            continue
        bad.append(q.name)
        problems.append(f"{q.name}: spark {got[q.name]} oracle {want}")
    con.close()
    n_exec = len(walls)
    # every execution of a query whose rows differ from its oracle fails
    failed = sum(len(execs[n]) for n in bad)

    detail = {
        "query_p50_s": (median(walls), "s", n_exec),
        "query_p90_s": (quantile(walls, 0.9), "s", n_exec),
        "suite_pass_s": (median(passes), "s", len(passes)),
        "suite_queries": (len(queries), "count", 1),
        # half-cent midpoints met where Spark's cent differs from DuckDB's
        "oracle_midpoint_cells": (mids, "count", 1),
        **{f"rows.{t}": (n, "count", 1) for t, n in table_rows.items()},
    }
    result = {
        "attempted": n_exec,
        "failed": failed,
        "problems": problems,
        "detail": detail,
        "e2e": {
            "op_p50_ms": median(walls) * 1000,
            "op_p90_ms": quantile(walls, 0.9) * 1000,
            "work_per_s": n_exec / sum(walls),
        },
    }
    if tr:
        n_pass = len(passes)
        per_layer = {
            "plans.build_s": median([x for v in build.values() for x in v]),
            "plans.exec_s": median([x for v in execs.values() for x in v]),
        }
        for m in QUERY_MODULES:
            names = [q.name for q in queries if q.fn.__module__.rsplit(".", 1)[-1] == m]
            per_layer[f"plans.{m}.build_s"] = sum(sum(build[n]) for n in names) / n_pass
            per_layer[f"plans.{m}.exec_s"] = sum(sum(execs[n]) for n in names) / n_pass
        for key in COUNTS:
            per_layer[f"plans.{key}"] = median([c.get(key, 0) for c in pass_counts])
        result["per_layer"] = per_layer
    return result

"""pipeline_full: the weekly batch job, ``pipeline.run_pipeline`` end
to end over a seeded corpus of Oyez-shaped transcripts.

Unit operation: one pipeline run in a fresh Spark driver, exactly as the
weekly job runs (JIT and first-touch costs included); one run per
process, so ``op_p50_ms`` and ``op_p90_ms`` both read that run. Unit of
work: one utterance. Set-up is session start plus corpus generation.

The traced run swaps the names ``run_pipeline`` calls (in the
``scotustician_spark.pipeline`` namespace only) for wrappers that mark
which stage of the run is executing. Each stage span runs from the
first call that belongs to it until the next stage starts, so the
actions a lazy stage triggers later (count gates, sinks, cache
re-reads) are charged where they execute, in ``run_pipeline``'s own
order, with its own caches and gates.
"""

from __future__ import annotations

import os
import time

import gen
from tracing import dir_bytes

N_DOCS = 40

# pipeline-namespace name -> stage span (count_gate is mapped by label)
STAGE_OF = {
    "read_oa_json": "sources.read",
    "split_quarantine": "sources.read",
    "flatten_utterances": "documents.flatten",
    "classify_speaker_role": "documents.flatten",
    "assemble_section_chunks": "documents.chunks",
    "embed_text": "ml.embed",
    "weighted_mean_vectors": "functions.vector.mean",
    "kmeans_assign": "ml.cluster",
    "analysis_report": "ml.cluster",
    "register_models": "documents.medallion",
    "run_data_tests": "documents.medallion",
    "write_partitioned": "sources.sinks",
    "write_xml": "sources.sinks",
    "write_quarantine": "sources.sinks",
    "run_summary": "sources.sinks",
}
GATE_STAGE = {
    "ingested documents": "sources.read",
    "flattened utterances": "documents.flatten",
    "section chunks": "documents.chunks",
    "chunk embeddings": "ml.embed",
}
STAGES = ["sources.read", "documents.flatten", "documents.chunks", "ml.embed",
          "functions.vector.mean", "ml.cluster", "documents.medallion", "sources.sinks"]
# per-layer metrics of the traced run: stage self times, then counts
PER_LAYER = {
    **{f"{s}_s": "s" for s in STAGES},
    "sources.files_read_bytes": "bytes",
    "sources.corpus_bytes": "bytes",
    "sources.read_amp": "x",
    "documents.utterances": "count",
    "documents.chunks": "count",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "sources.bytes_written": "bytes",
    "pipeline.run_s": "s",
}


class StageTimeline:
    """Consecutive stage spans under one ``pipeline.run`` span, each
    with its own Spark counters."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.cur = None  # (stage name, span id, open counter context)
        self.counts: dict[str, dict] = {}

    def switch(self, stage: str) -> None:
        if self.cur and self.cur[0] == stage:
            return
        self.end()
        sid = self.ctx.tracer.open(stage)
        out = self.counts.setdefault(stage, {})
        cm = self.ctx.counters.measure(out, stage)
        cm.__enter__()
        self.cur = (stage, sid, cm)

    def end(self) -> None:
        if self.cur:
            _, sid, cm = self.cur
            cm.__exit__(None, None, None)
            self.ctx.tracer.close(sid)
            self.cur = None


def _install_wrappers(timeline: StageTimeline) -> None:
    """Swap the stage functions in ``scotustician_spark.pipeline``'s
    namespace for the rest of the process."""
    import scotustician_spark.pipeline as P

    def wrap(name, fn):
        def inner(*a, **kw):
            if name == "count_gate":
                timeline.switch(GATE_STAGE[a[2] if len(a) > 2 else kw["what"]])
            else:
                timeline.switch(STAGE_OF[name])
            return fn(*a, **kw)
        return inner

    for name in [*STAGE_OF, "count_gate"]:
        setattr(P, name, wrap(name, getattr(P, name)))


def run(ctx) -> dict:
    from scotustician_spark import pipeline

    spark = ctx.spark
    corpus = os.path.join(ctx.work, "corpus")
    expect = gen.write_transcripts(corpus, N_DOCS, ctx.seed)
    problems: list[str] = []

    def check(res) -> bool:
        bad = []
        if res.gates.get("utterances") != expect["utterances"]:
            bad.append(f"utterances {res.gates.get('utterances')} != {expect['utterances']}")
        if res.gates.get("valid_documents") != expect["documents"]:
            bad.append(f"valid_documents {res.gates.get('valid_documents')} != {expect['documents']}")
        bad += [f"gate {g}={n}" for g, n in res.gates.items() if not n > 0]
        bad += [f"data test {t}={n}" for t, n in res.data_test_violations.items() if n != 0]
        problems.extend(bad)
        return not bad

    timeline = None
    if ctx.tracer:
        timeline = StageTimeline(ctx)
        _install_wrappers(timeline)
    ctx.setup_done()

    # one cold run per process: the weekly job starts a fresh Spark driver, so
    # JIT and first-touch costs are part of what its user waits for
    sid = ctx.tracer.open("pipeline.run") if ctx.tracer else None
    out = os.path.join(ctx.work, "out")
    t0 = time.perf_counter()
    res = pipeline.run_pipeline(spark, corpus, out, embed_dim=64, n_clusters=8)
    wall = time.perf_counter() - t0
    if ctx.tracer:
        timeline.end()
        ctx.tracer.close(sid)
    # checks stay outside the timed region
    failed = 0 if check(res) else 1
    written = dir_bytes(out)

    n_utt = expect["utterances"]
    detail = {
        "pipeline_utt_per_s": (n_utt / wall, "1/s", 1),
        "pipeline_run_s": (wall, "s", 1),
        "corpus_documents": (expect["documents"], "count", 1),
        "corpus_junk_files": (expect["junk"], "count", 1),
        "corpus_utterances": (n_utt, "count", 1),
        "corpus_sections": (expect["sections"], "count", 1),
        "corpus_bytes": (expect["corpus_bytes"], "bytes", 1),
    }
    result = {
        "attempted": 1,
        "failed": failed,
        "problems": problems,
        "detail": detail,
        "e2e": {"op_p50_ms": wall * 1000, "op_p90_ms": wall * 1000,
                "work_per_s": n_utt / wall},
    }
    if ctx.tracer:
        by = ctx.tracer.self_time_by_name()
        per_layer = {f"{st}_s": sum(by.get(st, [])) for st in STAGES}

        def total(key):
            return sum(c.get(key, 0) for c in timeline.counts.values())

        read_bytes = total("files_read_bytes")
        per_layer.update({
            "sources.files_read_bytes": read_bytes,
            "sources.corpus_bytes": expect["corpus_bytes"],
            "sources.read_amp": read_bytes / expect["corpus_bytes"],
            "documents.utterances": res.gates["utterances"],
            "documents.chunks": res.gates["chunks"],
            "pipeline.shuffle_bytes": total("shuffle_bytes"),
            "pipeline.jobs": total("jobs"),
            "pipeline.tasks": total("tasks"),
            "sources.bytes_written": written,
            "pipeline.run_s": wall,
        })
        result["per_layer"] = per_layer
    return result

"""The traced run's layer sweep: the same fixed-size probe of every layer,
whatever the workload, so each per-layer metric is measured in every
traced run and means the same thing in each.

- Ingest stages, as self times: each public stage function runs on the
  persisted output of the previous stage and is forced through a
  ``noop`` sink; the stage's output is then persisted, untimed, as the
  next stage's input. The parquet sink is timed writing the persisted
  chunks and embeddings.
- One whole ``RagEngine.ingest`` of the same batch, for the number of
  binaryFile-scan jobs one call launches (``ingest.dag_passes``).
- Chat queries against that output: DataFrame construction, Catalyst
  planning (the query's own ``QueryExecution``: its recorded analysis
  time plus optimization and planning, forced and timed from outside),
  execution, jobs and tasks.
- The ``CORE`` queries on fresh tables: one cold pass (matview builds)
  and one warm pass with per-query time, jobs and per-family planning.

The metric names and the end-to-end metric each should move are listed
in ``LAYER_MAP``.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

from perfbench import corpus

SWEEP_FILES = 40
SWEEP_QUERIES = 8

# per-layer metric -> the end-to-end metric(s) it should move
LAYER_MAP = {
    "session.start_s": "setup_s on every workload",
    "sources.scan_ms": "chat_churn/items_per_s, setup_s",
    "ingest.extract_ms": "chat_churn/items_per_s, setup_s",
    "ingest.normalize_ms": "chat_churn/items_per_s, setup_s",
    "ingest.assemble_ms": "chat_churn/items_per_s, setup_s",
    "chunking.chunk_ms": "chat_churn/items_per_s, setup_s",
    "ingest.dedup_ms": "chat_churn/items_per_s, setup_s",
    "embedding.embed_ms": "chat_churn/items_per_s, setup_s",
    "sinks.write_ms": "chat_churn/items_per_s, setup_s",
    "ingest.pages": "chat_churn/items_per_s, setup_s (count)",
    "chunking.chunks": "chat_churn/items_per_s, setup_s (count)",
    "embedding.vectors": "chat_churn/items_per_s, setup_s (count)",
    "sinks.files_written": "chat_churn/items_per_s, setup_s (count)",
    "sinks.bytes_written": "chat_churn/items_per_s, setup_s (count)",
    "ingest.dedup_kept_ratio": "chat_churn/items_per_s, setup_s (useful/attempted)",
    "ingest.dag_passes": "chat_churn/items_per_s, setup_s",
    "api.build_ms": "chat_churn/op_p50_ms",
    "api.plan_ms": "chat_churn/op_p50_ms",
    "api.exec_ms": "chat_churn/op_p50_ms",
    "embedding.query_ms": "chat_churn/op_p50_ms",
    "api.jobs_per_query": "chat_churn/op_p50_ms",
    "api.tasks_per_query": "chat_churn/op_p50_ms",
    "chat.store_files": "chat_churn/op_p50_ms",
    "core.<query>.ms": "core_queries/items_per_s",
    "core.<query>.jobs": "core_queries/items_per_s",
    "core.<family>.plan_ms": "core_queries/items_per_s",
    "core.matview_build_s": "core_queries/setup_s",
    "spark.*_per_op": "op_p50_ms of the workload measured",
    "spark.task_ms_per_op": "op_p50_ms; against it, the share of an op that is operator work",
    "trace.items_per_s": "tracing overhead: minus the untraced items_per_s",
    "trace.op_p50_ms": "tracing overhead: minus the untraced op_p50_ms",
}


def _m(value, unit):
    return {"value": float(value), "unit": unit}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def ingest_stages(wl) -> tuple[dict, str, str]:
    """Self times and row counts of each ingest stage on one batch, then
    one whole ``RagEngine.ingest`` of it. Returns the metrics, the
    ingest's out dir and the id of the span around it."""
    from pyspark.sql import functions as F

    from selfhosted_rag_doc_chat_prototype_spark.operators import ingest as ing
    from selfhosted_rag_doc_chat_prototype_spark.sources.binary import (
        scan_binary_files, with_file_type)

    spark, tr = wl.spark, wl.tracer
    batch = wl.new_batch(SWEEP_FILES, 0.1)
    base = wl.fresh("stages")
    out: dict = {}
    counts: dict = {}

    def stage(metric: str, build, name: str):
        df = build()
        with tr.span(metric) as sp:
            _noop(df)
        out[metric] = _m(1000 * sp.seconds, "ms")
        path = os.path.join(base, name)
        df.write.parquet(path)
        res = spark.read.parquet(path)
        counts[name] = res.count()
        return res

    files = stage("sources.scan_ms",
                  lambda: with_file_type(scan_binary_files(spark, batch.path)), "files")
    pages = stage("ingest.extract_ms", lambda: ing.extract_documents(files), "pages0")
    pages = stage("ingest.normalize_ms", lambda: ing.normalize_stage(pages), "pages")
    docs = stage("ingest.assemble_ms", lambda: ing.assemble_markdown(
        ing.tag_pages(pages)).select(
            "path", "file_type", "doc_id", F.col("first_page").alias("page"),
            F.col("markdown").alias("text")), "docs")
    chunks = stage("chunking.chunk_ms", lambda: ing.chunk_stage(docs), "chunks_all")
    kept = stage("ingest.dedup_ms", lambda: chunks.dropDuplicates(["id"]), "chunks")
    vecs = stage("embedding.embed_ms", lambda: ing.embed_stage(kept), "embeddings")
    sink = wl.fresh("sink")
    with tr.span("sinks.write_ms") as sp:
        kept.write.mode("overwrite").parquet(f"{sink}/chunks")
        vecs.write.mode("overwrite").parquet(f"{sink}/embeddings")
    out["sinks.write_ms"] = _m(1000 * sp.seconds, "ms")
    written = parquet_files(sink)
    out.update({
        "ingest.pages": _m(counts["pages"], "count"),
        "chunking.chunks": _m(counts["chunks_all"], "count"),
        "embedding.vectors": _m(counts["embeddings"], "count"),
        "ingest.dedup_kept_ratio": _m(counts["chunks"] / counts["chunks_all"], "ratio"),
        "sinks.files_written": _m(len(written), "count"),
        "sinks.bytes_written": _m(sum(os.path.getsize(p) for p in written), "bytes"),
    })

    from selfhosted_rag_doc_chat_prototype_spark.api import RagEngine

    store = wl.fresh("out")
    with tr.span("ingest.call") as sp:
        RagEngine.ingest(spark, batch.path, store)
    return out, store, sp.id


def _phase_ms(qe, *names: str) -> float:
    """Sum of the named Catalyst phase times recorded by one
    ``QueryExecution`` (whole milliseconds)."""
    ph = qe.tracker().phases()
    total = 0.0
    for name in names:
        opt = ph.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def _plan(qe) -> float:
    """Catalyst time of a built query: analysis (already done when the
    DataFrame was built) plus optimization and physical planning, which
    are forced here and timed from outside."""
    t0 = time.perf_counter()
    qe.executedPlan()
    return _phase_ms(qe, "analysis") + 1000 * (time.perf_counter() - t0)


def api_queries(wl, store: str) -> dict:
    """``RagEngine.query`` split into DataFrame construction, Catalyst
    planning and execution (``collect``), with jobs and tasks."""
    from selfhosted_rag_doc_chat_prototype_spark.api import RagEngine
    from selfhosted_rag_doc_chat_prototype_spark.operators.embedding import embed_text_py

    engine = RagEngine.load(wl.spark, store)
    texts = corpus.chat_queries(wl.gen, wl.rng, SWEEP_QUERIES, 0.0)
    build, plan, exe, emb, jobs, tasks = [], [], [], [], [], []
    engine.query(texts[0]).collect()  # warm-up, discarded
    for t in texts:
        t0 = time.perf_counter()
        embed_text_py("query: " + t)
        emb.append(1000 * (time.perf_counter() - t0))
        with wl.tracer.span("api.query") as sp:
            t0 = time.perf_counter()
            df = engine.query(t)
            t1 = time.perf_counter()
            p = _plan(df._jdf.queryExecution())
            t2 = time.perf_counter()
            df.collect()
            t3 = time.perf_counter()
        build.append(1000 * (t1 - t0))
        plan.append(p)
        exe.append(1000 * (t3 - t2))
        jobs.append(sp.jobs)
        tasks.append(sp.tasks)
    mean = statistics.fmean
    return {
        "api.build_ms": _m(mean(build), "ms"),
        "api.plan_ms": _m(mean(plan), "ms"),
        "api.exec_ms": _m(mean(exe), "ms"),
        "embedding.query_ms": _m(mean(emb), "ms"),
        "api.jobs_per_query": _m(mean(jobs), "count"),
        "api.tasks_per_query": _m(mean(tasks), "count"),
    }


def core_passes(wl) -> dict:
    """Per-query time, jobs and planning on the ``CORE`` queries. Uses
    the workload's own tables when it has them (``core_queries``, whose
    set-up pass built the matviews); otherwise builds fresh tables and
    runs the cold pass here."""
    from perfbench.workloads import CORE

    fns = wl.core_fns()
    sf = getattr(wl, "sf", None)
    if sf is None:
        sf = wl.fresh("sf")
        corpus.write_tables(wl.seed, sf)
        wl.sf_dirs.append(sf)
        t0 = time.perf_counter()
        for q in CORE:
            with wl.tracer.span(f"core.cold.{q}"):
                _noop(fns[q](wl.spark, sf))
        cold = time.perf_counter() - t0
    else:
        cold = wl.cold_pass_s
    out: dict = {}
    plan: dict[str, float] = {}
    warm = 0.0
    for q, fam in CORE.items():
        df = fns[q](wl.spark, sf)
        plan[fam] = plan.get(fam, 0.0) + _plan(df._jdf.queryExecution())
        with wl.tracer.span(f"core.{q}") as sp:
            _noop(df)
        warm += sp.seconds
        out[f"core.{q}.ms"] = _m(1000 * sp.seconds, "ms")
        out[f"core.{q}.jobs"] = _m(sp.jobs, "count")
    for fam, ms in plan.items():
        out[f"core.{fam}.plan_ms"] = _m(ms, "ms")
    # the cold pass minus a warm pass: what building the matviews cost
    out["core.matview_build_s"] = _m(cold - warm, "s")
    return out

"""The workloads. Each is driven by one closed-loop client.

``chat_churn``
    One op is ``RagEngine.query(text, k=4).collect()`` against a store
    ingested during set-up. Before every tenth query a small
    ``RagEngine.ingest`` (10% byte-identical duplicate files) lands in
    a new out dir and the engine is rebuilt over the union of all out
    dirs. 20% of the queries repeat an earlier one. Items are queries;
    ``items_per_s`` counts the writes' time too.
``core_queries``
    One op is one pass over ``CORE``, a fixed slice of the frozen
    30-query core, each query run through a ``noop`` sink over seeded
    test tables, in an order permuted by the seed. Set-up runs a cold
    pass, which builds the matviews, and two warm passes; the first
    one's collected results are checked. Items are queries, so ``op_p50_ms`` is the
    median wall of a pass.

``setup_s`` is the session start plus one set-up (input generation,
store ingest or matview builds, warm-up op). Correctness checks run
after the timed phase and count in neither.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass

import numpy as np

from perfbench import checks, corpus
from perfbench.trace import Tracer

# ---- memory ----------------------------------------------------------------

def _children(pid: int) -> list[int]:
    """All descendants of ``pid`` (the JVM and its Python workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler:
    """Peak proportional set size of this process's descendants."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period_s):
            self.sample(me)

    def sample(self, me: int | None = None) -> None:
        kb = sum(_pss_kb(p) for p in _children(me or os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join(timeout=10)
        return self.peak_kb / 1024.0


# ---- shared run loop ---------------------------------------------------------

def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


@dataclass
class Op:
    """One timed client op. ``key`` names what the check verifies."""

    kind: str
    seconds: float
    items: int
    span: str
    key: object = None
    error: str | None = None


class Workload:
    name = ""
    main_kind = ""

    def __init__(self, seed: int, run_dir: str, trace_dir: str | None) -> None:
        self.seed = seed
        self.run_dir = run_dir
        self.rng = np.random.default_rng([seed, 0])
        self.gen = corpus.TextGen(seed)
        self.tracer = Tracer(trace_dir)
        self.serial = 0
        self.sf_dirs: list[str] = []
        self.spark = None
        self.pss = PssSampler()
        self.ops: list[Op] = []

    # paths -----------------------------------------------------------------
    def fresh(self, kind: str) -> str:
        self.serial += 1
        return os.path.join(self.run_dir, f"{kind}-{self.serial:04d}")

    def new_batch(self, n_files: int, dup_share: float) -> corpus.Batch:
        return corpus.write_batch(self.gen, self.rng, self.fresh("staging"),
                                  n_files, dup_share, self.serial * 100_000)

    def core_fns(self) -> dict:
        from selfhosted_rag_doc_chat_prototype_spark.plans.registry import all_queries

        reg = all_queries()
        return {q: reg[q] for q in CORE}

    def timed(self, kind: str, fn, items: int, key=None) -> Op:
        """Run one client op in its own span. An op that raises is
        recorded as failed, never dropped."""
        err = None
        with self.tracer.span(kind) as sp:
            try:
                fn()
            except Exception as e:  # the loop goes on; the op counts as failed
                err = f"{type(e).__name__}: {str(e)[:300]}"
        op = Op(kind, sp.seconds, items, sp.id, key, err)
        self.ops.append(op)
        return op

    # lifecycle -------------------------------------------------------------
    def start(self):
        if self.tracer.on:
            self.pss.start()
        t0 = time.perf_counter()
        from selfhosted_rag_doc_chat_prototype_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.name}")
        self.session_s = time.perf_counter() - t0
        self.tracer.bind(self.spark)
        return self.spark

    def run(self, seconds: float) -> dict:
        setup = self.setup()
        for i in range(self.cycles(seconds) * self.cycle_ops()):
            self.op(i)
        peak_mb = self.pss.stop()
        sweep = {}
        if self.tracer.on:
            from perfbench import layers

            sweep, store, self.dag_span = layers.ingest_stages(self)
            sweep.update(layers.api_queries(self, store))
            sweep.update(layers.core_passes(self))
            # files a query scans: the churned store, else the probe's store
            dirs = getattr(self, "dirs", [store])
            sweep["chat.store_files"] = metric(
                sum(len(layers.parquet_files(d)) for d in dirs), "count")
        for kind in sorted({o.kind for o in self.ops} - {self.main_kind}):
            ms = [1000 * o.seconds for o in self.ops if o.kind == kind]
            print(f"info: {kind}_p50_ms {statistics.median(ms):.6g} ms over {len(ms)} ops")
        problems = [f"{o.kind} op {o.span}: {o.error}" for o in self.ops if o.error]
        bad = {id(o) for o in self.ops if o.error}
        for op, why in self.check():
            problems.append(why)
            bad.add(id(op))
        main = [o for o in self.ops if o.kind == self.main_kind and not o.error]
        busy = sum(o.seconds for o in self.ops)
        e2e = {
            "items_per_s": metric(sum(o.items for o in main) / busy, "1/s"),
            "op_p50_ms": metric(1000 * statistics.median(o.seconds for o in main), "ms"),
        }
        if self.tracer.on:
            metrics = {f"trace.{k}": v for k, v in e2e.items()}
            metrics["session.start_s"] = metric(self.session_s, "s")
            metrics.update(sweep)
            metrics["mem.peak_pss_mb"] = metric(peak_mb, "MB")
        else:
            metrics = e2e
            metrics["setup_s"] = metric(self.session_s + setup, "s")
        return {
            "correct": not bad, "attempted": len(self.ops), "failed": len(bad),
            "metrics": metrics, "problems": problems,
            "ops": [(o.kind, o.seconds) for o in self.ops],
        }

    def cycles(self, seconds: float) -> int:
        """Whole cycles of the workload's op mix that take about
        ``seconds`` on the reference box (4 cores). The amount of work is
        fixed by ``seconds``, not by how fast this run goes: a time-based
        stop let slow runs time fewer, less warmed-up cycles, which
        doubled the run-to-run spread."""
        return max(1, round(seconds / self.CYCLE_S))

    def stop(self) -> None:
        """Stop the session and wait for its JVM to exit. Idempotent."""
        if self.spark is None:
            return
        import subprocess

        from pyspark import SparkContext

        spark, self.spark = self.spark, None
        spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                # the JVM exits when its stdin closes; wait for it
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=60)

    def event_log_metrics(self) -> dict:
        """Per-op Spark metrics from the event log of a traced run.
        Call after :meth:`stop`, when the log is complete."""
        tr = self.tracer
        tr.reduce_event_log()
        loop = [o for o in self.ops if o.kind == self.main_kind]
        spans = {s.id: s for s in tr.spans}
        n = len(loop)

        def per_op(key: str) -> float:
            return sum(tr.group(o.span)[key] for o in loop) / n

        return {
            "spark.jobs_per_op": metric(sum(spans[o.span].jobs for o in loop) / n, "count"),
            "spark.stages_per_op": metric(sum(spans[o.span].stages for o in loop) / n, "count"),
            "spark.tasks_per_op": metric(sum(spans[o.span].tasks for o in loop) / n, "count"),
            "spark.bytes_read_per_op": metric(per_op("bytes_read"), "bytes"),
            "spark.shuffle_bytes_per_op": metric(per_op("shuffle_bytes"), "bytes"),
            "spark.spill_bytes_per_op": metric(per_op("spill_bytes"), "bytes"),
            "spark.gc_ms_per_op": metric(per_op("gc_ms"), "ms"),
            "spark.task_ms_per_op": metric(per_op("task_ms"), "ms"),
            "spark.failed_tasks": metric(
                sum(g["failed_tasks"] for g in tr.groups.values()), "count"),
            "ingest.dag_passes": metric(tr.group(self.dag_span)["scan_jobs"], "count"),
        }

    def cleanup(self) -> None:
        """Delete exactly the matview dirs keyed by this run's corpora."""
        from selfhosted_rag_doc_chat_prototype_spark.operators.similarity import matview_root

        base = matview_root()
        for sf in self.sf_dirs:
            tag = hashlib.md5(sf.encode()).hexdigest()[:8]
            for p in glob.glob(os.path.join(base, f"*_{tag}")):
                shutil.rmtree(p, ignore_errors=True)


# ---- chat_churn --------------------------------------------------------------

class ChatChurn(Workload):
    name = "chat_churn"
    main_kind = "query"
    STORE_FILES = 100
    WRITE_FILES = 10
    DUP_SHARE = 0.1
    WRITE_EVERY = 10  # a small ingest lands before every 10th query
    WARMUP_QUERIES = 10  # per set-up, discarded
    CYCLE_S = 7.0  # 10 queries and one small ingest
    REPEAT_SHARE = 0.2
    K = 4

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.queries = corpus.chat_queries(self.gen, self.rng, 500, self.REPEAT_SHARE)

    def load(self) -> None:
        from selfhosted_rag_doc_chat_prototype_spark.api import RagEngine

        sp = self.spark
        self.engine = RagEngine(
            sp, sp.read.parquet(*[f"{d}/chunks" for d in self.dirs]),
            sp.read.parquet(*[f"{d}/embeddings" for d in self.dirs]),
        )

    def write(self, batch: corpus.Batch, out: str) -> None:
        from selfhosted_rag_doc_chat_prototype_spark.api import RagEngine

        RagEngine.ingest(self.spark, batch.path, out)
        self.dirs.append(out)
        self.load()

    def setup(self) -> float:
        t0 = time.perf_counter()
        self.dirs: list[str] = []
        self.store = self.new_batch(self.STORE_FILES, self.DUP_SHARE)
        self.write(self.store, self.fresh("out"))
        for text in self.queries[-self.WARMUP_QUERIES:]:
            self.engine.query(text, k=self.K).collect()
        return time.perf_counter() - t0

    def op(self, i: int) -> None:
        if i % self.WRITE_EVERY == self.WRITE_EVERY - 1:
            batch = self.new_batch(self.WRITE_FILES, self.DUP_SHARE)
            out = self.fresh("out")
            self.timed("write", lambda: self.write(batch, out), len(batch.files),
                       (batch, out))
        text = self.queries[i % len(self.queries)]
        res = []
        self.timed("query", lambda: res.append(self.engine.query(text, k=self.K).collect()),
                   1, (text, len(self.dirs), res))

    def cycle_ops(self) -> int:
        return self.WRITE_EVERY

    def check(self):
        parts = {}
        for d in self.dirs:
            try:
                e = checks.read_dir(f"{d}/embeddings")
                parts[d] = (np.array(e["id"].tolist()),
                            np.stack(e["embedding"].map(np.asarray).tolist()))
            except Exception as e:  # an unreadable out dir fails the write behind it
                parts[d] = None
        n0 = parts[self.dirs[0]]
        print(f"info: store {self.STORE_FILES} files, "
              f"{0 if n0 is None else len(n0[0])} chunks before the writes")

        def ingest_problems(batch, out):
            try:
                return checks.ingest_output(out, batch.groups, self.rng)
            except Exception as e:  # a missing or unreadable output fails
                return [f"{type(e).__name__}: {e}"]

        # every query reads the store ingested in set-up
        store_bad = ingest_problems(self.store, self.dirs[0])
        for op in self.ops:
            if op.error:
                continue
            if op.kind == "write":
                for p in ingest_problems(*op.key):
                    yield op, f"write {op.key[1]}: {p}"
            else:
                for p in store_bad:
                    yield op, f"store {self.dirs[0]}: {p}"
        for op in self.ops:
            if op.kind != "query" or op.error:
                continue
            text, n_dirs, res = op.key
            store = [parts[d] for d in self.dirs[:n_dirs] if parts[d] is not None]
            if not store:
                yield op, f"query {text!r}: no readable store"
                continue
            want = checks.topk_expected(np.concatenate([p[0] for p in store]),
                                        np.concatenate([p[1] for p in store]),
                                        text, self.K)
            got = [(r["id"], r["cos_sim"]) for r in sorted(res[0], key=lambda r: r["source_n"])]
            if [g[0] for g in got] != [w[0] for w in want] or any(
                    abs(g[1] - round(w[1], 4)) > 1e-9 for g, w in zip(got, want)):
                yield op, (f"query {text!r}: got {got} want "
                           f"{[(w[0], round(w[1], 4)) for w in want]}")


# ---- core_queries ------------------------------------------------------------

# A fixed slice of the frozen 30-query core, one or two queries of each
# operator family (value: the family), small enough that a cold set-up
# pass fits the run budget. anns_recall_report is left out: its cold
# matview build alone takes ~33 s on 4 cores.
CORE = {
    "q1_pricing_summary": "tpch",
    "a1_events_per_day": "analytics",
    "text_quality_flags": "text",
    "bpe_pair_counts": "text",
    "dedup_minhash_lsh": "dedup",
    "anns_lsh_bucketed": "ann",
    "sparse_bm25_topk": "sparse",
    "embed_documents": "embedding",
}


class CoreQueries(Workload):
    name = "core_queries"
    main_kind = "pass"
    CYCLE_S = 5.5  # one pass over CORE

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.fns = self.core_fns()

    def run_query(self, q: str) -> None:
        self.fns[q](self.spark, self.sf).write.format("noop").mode("overwrite").save()

    def setup(self) -> float:
        t0 = time.perf_counter()
        self.sf = self.fresh("sf")
        corpus.write_tables(self.seed, self.sf)
        self.sf_dirs.append(self.sf)
        t1 = time.perf_counter()
        for q in CORE:
            self.run_query(q)
        self.cold_pass_s = time.perf_counter() - t1
        # two discarded warm passes: passes keep getting faster for about
        # three passes after the cold one. The first pass's results are
        # what check() compares with the oracles.
        self.results = {}
        for q in CORE:
            df = self.fns[q](self.spark, self.sf)
            self.results[q] = ([tuple(r) for r in df.collect()], df.columns)
        for q in CORE:
            self.run_query(q)
        return time.perf_counter() - t0

    def op(self, i: int) -> None:
        order = [list(CORE)[j] for j in self.rng.permutation(len(CORE))]

        def one_pass() -> None:
            for q in order:
                self.run_query(q)

        self.timed("pass", one_pass, len(order), order)

    def cycle_ops(self) -> int:
        return 1

    def check(self):
        import duckdb

        from selfhosted_rag_doc_chat_prototype_spark.plans.registry import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        try:
            for q in CORE:
                try:
                    got = checks.result_hash(*self.results[q])
                    res = con.execute(oracles[q])
                    want = checks.result_hash(res.fetchall(), [d[0] for d in res.description])
                    why = None if got == want else "result differs from its DuckDB oracle"
                except Exception as e:  # an error on either side fails the query's ops
                    why = f"{type(e).__name__}: {str(e)[:200]}"
                if why:
                    for op in self.ops:
                        if not op.error:
                            yield op, f"{q}: {why}"
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (ChatChurn, CoreQueries)}

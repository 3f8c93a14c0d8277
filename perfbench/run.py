"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload chat_churn --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds its inputs from ``--seed``
under a fresh directory of ``.perfbench/``, starts one Spark session
on ``local[<cores>]`` and drives it from one closed-loop client (the
next op starts when the previous one has returned). After discarded
warm-up ops it times as many whole cycles of the workload's op mix as
take about ``--seconds`` seconds on a 4-core box, then checks every
op's output. It prints each metric by name with its unit, the
correctness verdict, and as its last line one JSON object::

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables
Spark's event log through launch confs, tags every span with a job
group and reports the per-layer metrics (see ``perfbench/trace.py``).
``failed`` counts ops that raised or failed a check; none is dropped.

On exit the run deletes its input directory and exactly the matview
directories keyed by its own corpus paths.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "selfhosted_rag_doc_chat_prototype_spark"
WORKLOADS = ("chat_churn", "core_queries")

# Pinned for every run: all cores of the box, and a JVM heap that
# fits beside the Python workers in RAM (the engine's 16g default does
# not fit a 15 GB machine).
JVM_HEAP = "3g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def launch_args(tmp_dir: str, trace_dir: str | None) -> str:
    """spark-submit arguments for the session's JVM: its heap size, a
    temp dir inside the run dir, and no JVM perf-data file. Tracing is
    enabled here too, from outside the engine: an uncompressed,
    non-rolling event log (the form the reducer in ``trace.py`` reads)."""
    confs = {
        "spark.driver.memory": JVM_HEAP,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
    }
    if trace_dir:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + trace_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
    return " ".join(args + ["pyspark-shell"])


def overhead(traced: dict, untraced_path: str) -> None:
    """Print the tracing overhead: the traced run's end-to-end numbers
    minus those of the last untraced run of the same workload and seed."""
    try:
        with open(untraced_path) as f:
            base = json.load(f)["metrics"]
    except FileNotFoundError:
        print("tracing overhead: run the same seed with --trace 0 first")
        return
    for name in ("items_per_s", "op_p50_ms"):
        t, u = traced[f"trace.{name}"]["value"], base[name]["value"]
        print(f"tracing overhead {name}: {t - u:+.6g} {base[name]['unit']} "
              f"({100 * (t - u) / u:+.1f}%)")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "api.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{uuid.uuid4().hex[:12]}")
    os.makedirs(run_dir)
    trace_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    # every file the run writes stays inside the run dir
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = launch_args(tmp_dir, trace_dir)
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)

    from perfbench import workloads

    wl = workloads.WORKLOADS[args.workload](args.seed, run_dir, trace_dir)
    try:
        wl.start()
        result = wl.run(args.seconds)
        wl.stop()
        if wl.tracer.on:
            result["metrics"].update(wl.event_log_metrics())
        results = os.path.join(ROOT, ".perfbench", "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
        if wl.tracer.on:
            wl.tracer.write(stem + "-spans.json")
            print(f"spans written to {os.path.relpath(stem, ROOT)}-spans.json")
            overhead(result["metrics"], stem + ".json")
        else:
            with open(stem + ".json", "w") as f:
                json.dump({"metrics": result["metrics"], "ops": result["ops"]}, f)
    finally:
        wl.stop()
        wl.cleanup()
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"failed_ratio {result['failed'] / result['attempted']:.6g} "
          f"({result['failed']}/{result['attempted']})")
    for line in result.get("problems", [])[:20]:
        print(f"check failed: {line}")
    print("correct" if result["correct"] else "INCORRECT")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

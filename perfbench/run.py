#!/usr/bin/env python3
"""The repo benchmark: seeded workloads over the engine's public API.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads (one client, closed loop, Spark ``local[1]``):

* ``serve``  rounds of interactive top-10 queries with path and title
             (``fetch(query_df(q, k=10)).collect()``), one of each of
             seven shapes in a selective and a broad variant, drawn
             from a Zipf-popular pool, until ``--seconds`` have passed;
* ``churn``  cycles of one upsert batch (rewritten and new paths), a
             reopen, one such round of queries over the tombstoned
             index and ``compact_in_place``, until ``--seconds`` have
             passed (at least one cycle).

Both start with a session and one build of the corpus, and run a few
untimed warm-up queries before their timed queries (see
``workloads.py``).  Every end-to-end metric is measured on both: the
CPU cost of the timed queries, and documents indexed per CPU second
over the set-up build on serve and over the timed upserts and
compactions on churn.  Both are CPU time of the whole machine, not
wall, because on a shared host wall times spread with the load of other
guests; the walls are printed in the context line.  ``--trace 1``
records spans around every engine call and prints the per-layer
metrics instead; the spans are written to ``perfbench/.work/traces/``.

The last line of stdout is the result object; the line before it is the
run's context (nproc, load, CPU steal, versions, sample counts, walls,
per-phase file split settings).  Inputs and oracle answers are cached
per seed under ``perfbench/.work/inputs``; each run's Spark and index
directories live under ``perfbench/.work/run-<pid>`` and are removed
when it ends.

Out of scope: ``batch_search`` (a replay log with a few dozen distinct
prefix terms overflows the JVM stack in ``Searcher._dict_scan``, so it
waits for an engine fix), block-max pruning (it needs 64+ blocks of
65,536 docs), spelling, eset, datapipe and CJK mode, amplified inputs,
and tracing inside the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# The Spark JVM of a run lives about a minute, too short for the C2
# compiler to finish: with it, the JVM spent more CPU compiling than
# querying, and query cost kept falling for the whole run, at a pace set
# by how much CPU the host's other tenants left it.  With C1 alone it
# reaches its steady state within the warm-up at about the same query
# latency.  The heap is taken whole up front and collected on one thread,
# so the GC rhythm does not change as the heap grows.
DRIVER_MEM = "2g"
DRIVER_JAVA_OPTIONS = (f"-Xms{DRIVER_MEM} -XX:+UseSerialGC "
                       "-XX:TieredStopAtLevel=1")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--profile", default="full", choices=["full", "tiny"],
                    help="input sizes; 'tiny' is the smoke test's")
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark writes inside the run directory and make
    the engine importable on the Python workers."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM (the launcher's too): temp files in the run directory and
    # no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '{DRIVER_JAVA_OPTIONS}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell")


def stop_spark() -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "mdq_spark")):
        print(f"perfbench: no engine package at {REPO}/mdq_spark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    from workloads import Run
    # one core and one shuffle partition: at these input sizes the engine
    # is bound by fixed per-job and per-task cost, so a second task slot
    # only adds tasks, and on a shared host every extra busy thread adds
    # run-to-run noise (the driver, JIT and GC threads use the rest)
    cores = 1
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.profile, WORK, run_dir)
    try:
        run.run(cores)
        if args.trace:
            metrics = run.layer_metrics()
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            run.tracer.write(os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = run.e2e_metrics()
        context = run.context()
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(context))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

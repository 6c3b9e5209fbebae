#!/usr/bin/env python
"""Where the build's two executors cross over.

Builds the same corpus with the driver executor and with the Spark
executor forced (``IndexBuilder.DRIVER_BUILD_BYTES`` set above / below
the input's size estimate), at several corpus sizes, and prints per
(docs, executor) the median build wall, the build's CPU time (this
process and every descendant: the JVM and its Python workers) and the
driver's peak resident memory, with the Catalyst size estimate the
executor check compares.  Each corpus is built from two input shapes:
ingest output (``docs_from_code_table``, a fresh build) and a filtered
read of an index's ``docs/`` parquet.  Catalyst sizes the two
differently: the second's estimate is the compressed size of its files,
and it is the estimate ``compact()`` picks its executor from, though a
compaction merges the index's encoded posting runs and tokenizes
nothing, so its cost is not the one measured here.  Ingest output
is a lazy projection ordered by (repo, path) and carries no ids, so its
sort and numbering run inside each timed build (the docs stage numbers
it); the ``docs/`` read carries its ids.

The corpus is the benchmark's seeded code table (``perfbench.inputs``)
at ``n`` documents; the runs alternate which executor goes first.

Usage: python scripts/executor_crossover.py [--cores 4]
           [--docs 1000,4000,16000,32000] [--reps 3] [--work DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def tree_cpu_s() -> float:
    """utime + stime of this process and all its descendants, live or
    reaped, in seconds (read from /proc)."""
    tick = os.sysconf("SC_CLK_TCK")
    info = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        info[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    kids: dict = {}
    for pid, (ppid, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += info.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return total / tick


class PeakRss:
    """Peak resident set of this (driver) process while in the block."""

    def __enter__(self):
        self.peak, self._stop = 0, threading.Event()
        self._t = threading.Thread(target=self._poll, daemon=True)
        self._t.start()
        return self

    def _poll(self):
        while not self._stop.is_set():
            with open("/proc/self/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        self.peak = max(self.peak, int(line.split()[1]) << 10)
            self._stop.wait(0.02)

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def corpus(work: str, n_docs: int) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from perfbench.inputs import code_table, vocabulary
    path = os.path.join(work, f"corpus_{n_docs}.parquet")
    if not os.path.exists(path):
        rng = np.random.default_rng([n_docs, 0x6D6471])
        rows, _ = code_table(rng, vocabulary(rng, 4000), n_docs, 120)
        pq.write_table(pa.table({k: pa.array(v, pa.string())
                                 for k, v in rows.items()}), path)
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--docs", default="1000,4000,16000,32000")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--work", default=None)
    args = ap.parse_args()
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS",
                          "--conf spark.ui.showConsoleProgress=false "
                          "pyspark-shell")
    work = args.work or tempfile.mkdtemp(prefix="mdq_crossover_")
    os.makedirs(work, exist_ok=True)

    from pyspark.sql import functions as F
    from mdq_spark.build import IndexBuilder, build_index
    from mdq_spark.ingest import docs_from_code_table
    from mdq_spark.session import ensure_worker_imports, get_spark
    spark = get_spark("executor-crossover", cores=args.cores,
                      shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_worker_imports(spark)
    limits = {"driver": 1 << 62, "spark": 0}

    def build(docs, executor: str, out: str) -> dict:
        IndexBuilder.DRIVER_BUILD_BYTES = limits[executor]
        shutil.rmtree(out, ignore_errors=True)
        with PeakRss() as rss:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            m = build_index(spark, docs, out)
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        assert m["executor"] == executor
        return {"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss.peak / 2**20}

    sizes = [int(x) for x in args.docs.split(",")]
    # warm the JVM and the Python workers on the smallest corpus first
    warm = docs_from_code_table(spark, spark.read.parquet(
        corpus(work, sizes[0])))
    for ex in limits:
        build(warm, ex, os.path.join(work, "warm"))

    for n in sizes:
        src = corpus(work, n)
        # the two input shapes: ingest output (a fresh build) and a
        # filtered read of an index's docs/ (sized as compaction's)
        ingest = docs_from_code_table(spark, spark.read.parquet(src))
        kept = os.path.join(work, f"src_{n}")
        build(ingest, "driver", kept)
        shapes = {"ingest": ingest,
                  "parquet": (spark.read.parquet(os.path.join(kept, "docs"))
                              .filter(F.col("gen") == 0).drop("gen"))}
        out = os.path.join(work, f"idx_{n}")
        for shape, docs in shapes.items():
            runs: dict = {ex: [] for ex in limits}
            for rep in range(args.reps):
                order = list(limits) if rep % 2 == 0 else list(limits)[::-1]
                for ex in order:
                    runs[ex].append(build(docs, ex, out))
            row = {"cores": args.cores, "n_docs": n, "input": shape,
                   "est_bytes": IndexBuilder._size_estimate(docs)}
            for ex, rs in runs.items():
                for k in rs[0]:
                    row[f"{ex}_{k}"] = round(
                        statistics.median(r[k] for r in rs), 2)
            print(json.dumps(row), flush=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(kept, ignore_errors=True)
    spark.stop()
    if args.work is None:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

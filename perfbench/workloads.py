"""The benchmark's phases and its two workloads.

Every run goes through the same phases in the same order:

1. ``inputs``   seeded inputs and the oracle's answers (cached per
                seed; not part of any timing);
2. ``session``  SparkSession start;
3. ``setup``    one build of the corpus (and, for serve, a Searcher
                open);
4. ``warmup``   untimed queries of the serve shape (churn's run inside
                its first cycle, see ``churn_cycle``);
5. ``tokenize`` driver-side tokenizer calls over a fixed sample;
6. ``timed``    the workload's closed loop, one client, for ``seconds``;
7. ``checks``   every answer against the oracle.

``setup_s`` is the session start plus the build-and-open plus the
warm-up, so work moved into any of them shows.  The oracle's answers
are computed in ``checks``, after every timed section, from snapshots
of the live document set taken while the workload ran.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from collections import Counter, defaultdict

from checks import LiveSet, expected_answers, serve_rows_ok
from inputs import SHAPES, Inputs
from tracer import Tracer

K = 10
SELECTIVITY = ("selective", "broad")
# untimed queries before the timed ones.  Query cost falls over the
# first rounds of a JVM: after a one-round warm-up on a fresh index, the
# CPU per query of the next round was still 5-20% above that of the
# rounds after it, which kept level.  So serve warms up with two whole
# rounds (every class twice).  Churn's run over tombstones, after a
# build and an upsert; after 3 warm-up queries its first 7 timed ones
# still cost 10-20% more CPU than the 7 after them, so it warms up with
# one query of every shape.
WARMUP_QUERIES = {"serve": 28, "churn": 7}
LAYERS = ["session", "ingest", "tokenize", "build", "queryparse", "search",
          "upsert"]
INDEX_PARTS = ["docs", "terms", "docstats", "dict", "postings"]
BUILD_STAGES = ["docs", "partials", "terms", "docstats", "dict", "postings"]
CLK_TCK = os.sysconf("SC_CLK_TCK")
CPUACCT = "/sys/fs/cgroup/cpuacct/cpuacct.usage"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def compacted_docs(index_dir: str) -> dict:
    """``{doc_id: fullpath}`` of an index's forward store, read with
    pyarrow (no Spark job)."""
    import pyarrow.dataset as pads
    tbl = pads.dataset(os.path.join(index_dir, "docs"), format="parquet",
                       partitioning="hive").to_table(
        columns=["doc_id", "fullpath"])
    return dict(zip(tbl.column("doc_id").to_pylist(),
                    tbl.column("fullpath").to_pylist()))


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def cpu_seconds() -> float:
    """CPU seconds all processes of the machine have used: the driver,
    the Spark JVM and its Python workers, which a query keeps busy at
    once.  Time the hypervisor gave to other guests is not in it (the
    kernel counts it apart, as steal); on a shared host that time is
    what spreads wall times from run to run.  Read from the root
    cgroup's cpuacct counter (nanoseconds), else from /proc/stat."""
    try:
        with open(CPUACCT) as f:
            return int(f.read()) / 1e9
    except OSError:
        with open("/proc/stat") as f:
            user, nice, system, _idle, _iowait, irq, softirq = (
                int(x) for x in f.readline().split()[1:8])
        return (user + nice + system + irq + softirq) / CLK_TCK


def median(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


class Run:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, profile: str, work_dir: str, run_dir: str):
        self.workload = workload
        self.seconds = float(seconds)
        self.trace_on = trace
        self.run_dir = run_dir
        self.inputs = Inputs(os.path.join(work_dir, "inputs"), seed, profile)
        self.tracer = Tracer(None)
        self.attempted = 0
        self.failed = 0
        self.errors: Counter = Counter()
        self.t: dict = defaultdict(list)    # timing samples, seconds
        self.conf_by_phase: dict = {}
        self.info: dict = {}
        # answers collected during timed sections, checked afterwards
        self.pending: list = []
        self.cursor: Counter = Counter()    # per-class stream position
        self.live_docs: dict = {}   # state -> the live docs it had
        # churn: per cycle, docs upserted, index bytes the upsert added,
        # and the input bytes of the batch
        self.upserts: list = []

    # -- bookkeeping -----------------------------------------------------

    def phase(self, name: str) -> None:
        """Record the file-split settings each phase starts with: the
        build sets them session-wide, so later phases inherit them."""
        conf = self.spark.conf
        self.tracer.phase = name
        self.conf_by_phase.setdefault(name, {
            "maxPartitionBytes": conf.get("spark.sql.files.maxPartitionBytes"),
            "openCostInBytes": conf.get("spark.sql.files.openCostInBytes"),
        })

    def attempt(self, layer: str, fn, *args, **kw):
        """Run one operation; an exception counts as a failed operation
        of ``layer`` and returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception as e:  # noqa: BLE001 - counted and reported
            self.failed += 1
            self.errors[layer] += 1
            where = [ln.strip() for ln in traceback.format_exc().splitlines()
                     if "mdq_spark" in ln]
            self.info.setdefault("exceptions", []).append(
                f"{layer}: {type(e).__name__}: {str(e)[:300]} at {where}")
            return None

    def verdict(self, ok: bool, layer: str) -> None:
        if not ok:
            self.failed += 1
            self.errors[layer] += 1

    # -- engine calls ----------------------------------------------------

    def start_session(self, cores: int) -> None:
        t0 = time.perf_counter()
        from mdq_spark.session import ensure_worker_imports, get_spark
        self.spark = get_spark("perfbench", cores=cores,
                               shuffle_partitions=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        ensure_worker_imports(self.spark)
        self.t["session"].append(time.perf_counter() - t0)
        if self.trace_on:
            self.tracer = Tracer(self.spark.sparkContext)

    def build(self, out: str) -> tuple[dict, float, float]:
        """``docs_from_code_table`` then ``build_index`` into ``out``;
        returns the manifest and the two walls."""
        from mdq_spark.build import build_index
        from mdq_spark.ingest import docs_from_code_table
        shutil.rmtree(out, ignore_errors=True)
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("ingest"):
            docs = docs_from_code_table(
                self.spark, self.spark.read.parquet(self.inputs.corpus_path))
        t1 = time.perf_counter()
        with tr.span("build"):
            manifest = build_index(self.spark, docs, out)
        t2 = time.perf_counter()
        return manifest, t1 - t0, t2 - t1

    def open(self, index_dir: str):
        from mdq_spark.search import Searcher
        t0 = time.perf_counter()
        with self.tracer.span("search.open"):
            s = Searcher(self.spark, index_dir)
        self.t["open"].append(time.perf_counter() - t0)
        return s

    def serve_query(self, searcher, q: dict, op) -> tuple[list, float]:
        """The interactive shape: top 10 with path and title,
        ``fetch(query_df(q, k=10)).collect()``."""
        from pyspark.sql import functions as F
        from mdq_spark.queryparse import parse_user_query
        tr = self.tracer
        filters = (F.array_contains(F.col("tags"), q["lang"])
                   if q.get("lang") else None)
        if tr.enabled:
            # the engine parses inside query_df as well; this call only
            # times the parser layer, outside the client's wall
            with tr.span("queryparse", op):
                parse_user_query(q["q"])
        t0 = time.perf_counter()
        with tr.span("query", op):
            with tr.span("search.plan", op):
                df = searcher.query_df(q["q"], k=K, filters=filters)
            with tr.span("search.fetch", op):
                df = searcher.fetch(df, columns=("doc_id", "fullpath",
                                                 "title"))
            with tr.span("search.exec", op):
                rows = df.collect()
        wall = time.perf_counter() - t0
        return [(int(r["doc_id"]), r["fullpath"], r["title"],
                 float(r["score"])) for r in rows], wall

    # -- phases ----------------------------------------------------------

    def run(self, cores: int) -> None:
        self.cores = cores
        self.load_before = os.getloadavg()[0]
        self.steal_before = cpu_steal()
        self.live = LiveSet(self.inputs.read_rows(self.inputs.corpus_path))
        self.snapshot("base")
        self.start_session(cores)
        self.phase("setup")
        self.setup()
        if self.workload == "serve":
            self.phase("warmup")
            self.warmup("base")
        self.phase("tokenize")
        self.tokenize_sample()
        self.phase("timed")
        t0 = time.perf_counter()
        if self.workload == "serve":
            self.timed_serve()
        else:
            self.timed_churn()
        self.t["timed"].append(time.perf_counter() - t0)
        self.phase("checks")
        self.check()
        self.tracer.attribute_jobs()
        self.load_after = os.getloadavg()[0]
        self.steal_after = cpu_steal()

    def setup(self) -> None:
        """One build of the corpus, and for serve a Searcher open: the
        index the timed section works on."""
        t0 = time.perf_counter()
        c0 = cpu_seconds()
        res = self.attempt("build", self.build,
                           os.path.join(self.run_dir, "index"))
        self.t["build_cpu"].append(cpu_seconds() - c0)
        if res is None:
            raise RuntimeError("set-up build failed: "
                               + "; ".join(self.info["exceptions"]))
        manifest, t_ingest, t_build = res
        self.index_dir = os.path.join(self.run_dir, "index")
        if self.workload == "serve":
            self.searcher = self.open(self.index_dir)
        self.t["setup"].append(time.perf_counter() - t0)
        self.t["ingest"].append(t_ingest)
        self.t["build"].append(t_ingest + t_build)
        self.verdict(int(manifest["metrics"]["n_docs"]) == self.inputs.n_docs,
                     "build")
        self.manifest = manifest
        self.index_bytes = {p: dir_bytes(os.path.join(self.index_dir, p))
                            for p in INDEX_PARTS}

    def warmup(self, state: str) -> None:
        """``WARMUP_QUERIES`` queries, untimed, before the timed ones."""
        t0 = time.perf_counter()
        n = WARMUP_QUERIES[self.workload]
        queries: list = []
        while len(queries) < n:
            queries += self.shape_round(len(queries) // (2 * len(SHAPES)))
        for q in queries[:n]:
            self.timed_query(self.searcher, q, state, record=False)
        self.t["warmup"].append(time.perf_counter() - t0)

    def tokenize_sample(self) -> None:
        from mdq_spark.tokenize import document_term_rows
        docs = [self.live.docs[i] for i in sorted(self.live.docs)
                [:self.inputs.p.tokenize_sample]]
        t0 = time.perf_counter()
        with self.tracer.span("tokenize"):
            n_terms = self.attempt(
                "tokenize", lambda: sum(document_term_rows(d)[1]
                                        for d in docs)) or 0
        wall = time.perf_counter() - t0
        self.info["tokenize"] = {"docs": len(docs), "terms": n_terms,
                                 "s": wall}

    def timed_query(self, searcher, q: dict, state: str,
                    record: bool = True) -> None:
        op = f"{state}/{q['id']}"
        c0 = cpu_seconds()
        res = self.attempt("search", self.serve_query, searcher, q, op)
        cpu = cpu_seconds() - c0
        if res is None:
            return
        rows, wall = res
        if record:
            self.t["query"].append(wall)
            self.t["query_cpu"].append(cpu)
        self.pending.append((state, q, rows))

    def next_query(self, shape: str, sel: str) -> dict:
        """The next query of a class from its Zipf-popular stream."""
        key = f"{shape}/{sel}"
        stream = self.inputs.streams[key]
        i = self.cursor[key]
        self.cursor[key] = i + 1
        return self.inputs.pool[stream[i % len(stream)]]

    def shape_round(self, r: int) -> list[dict]:
        """One query of every class, every shape both selective and
        broad, so however many rounds a run makes, it asks the same mix.
        Selectivity alternates over the shapes, and the order swaps
        every round."""
        return [self.next_query(shape, SELECTIVITY[(i + h + r) % 2])
                for h in range(2) for i, shape in enumerate(SHAPES)]

    def timed_serve(self) -> None:
        """Rounds of one query of every class until ``seconds`` have
        passed; at least one round."""
        deadline = time.perf_counter() + self.seconds
        r = 0
        while r == 0 or time.perf_counter() < deadline:
            for q in self.shape_round(r):
                self.timed_query(self.searcher, q, "base")
            r += 1

    def timed_churn(self) -> None:
        """Cycles of ``churn_cycle`` until ``seconds`` have passed; at
        least one.  One cycle takes longer than the benchmark's
        ``run_seconds``, so a measured run makes exactly one."""
        deadline = time.perf_counter() + self.seconds
        c = 0
        while c == 0 or time.perf_counter() < deadline:
            self.churn_cycle(c)
            c += 1

    def churn_cycle(self, c: int) -> None:
        """The seeded upsert batch (rewritten and new paths, every path
        rewritten from the second cycle on), a reopen, the warm-up in
        the first cycle, and one query of every class over the
        tombstoned index, then a compaction after which the index is one
        generation again and its forward store must hold exactly the
        live documents."""
        from mdq_spark.ingest import docs_from_code_table
        from mdq_spark.upsert import compact_in_place, upsert
        path = self.inputs.batch_path
        rows = self.inputs.read_rows(path)
        state = f"upserted-{c}"
        before = dir_bytes(self.index_dir)
        t0 = time.perf_counter()
        c0 = cpu_seconds()
        with self.tracer.span("upsert"):
            m = self.attempt("upsert", lambda: upsert(
                self.spark, self.index_dir, docs_from_code_table(
                    self.spark, self.spark.read.parquet(path))))
        self.t["upsert"].append(time.perf_counter() - t0)
        self.t["upsert_cpu"].append(cpu_seconds() - c0)
        self.upserts.append({
            "docs": len(rows),
            "bytes_written": dir_bytes(self.index_dir) - before,
            "bytes_in": sum(len(r["content"].encode()) for r in rows)})
        self.live.upsert(rows)
        self.snapshot(state)
        if m is not None:
            self.verdict(int(m["globalstats"]["n_docs"])
                         == len(self.live.docs), "upsert")
        self.searcher = self.open(self.index_dir)
        if c == 0:
            # the warm-up runs here, over the tombstones the timed
            # queries read: their plans take more jobs than a fresh
            # index's, and a warm-up on a fresh index leaves the first
            # of them slowest
            self.phase("warmup")
            self.warmup(state)
            self.phase("timed")
        for q in self.shape_round(c):
            self.timed_query(self.searcher, q, state)
        t0 = time.perf_counter()
        c0 = cpu_seconds()
        with self.tracer.span("upsert.compact"):
            m = self.attempt("upsert", compact_in_place, self.spark,
                             self.index_dir)
        self.t["compact"].append(time.perf_counter() - t0)
        self.t["compact_cpu"].append(cpu_seconds() - c0)
        self.live.compact()
        if m is not None:
            self.verdict(int(m["metrics"]["n_docs"]) == len(self.live.docs)
                         and compacted_docs(self.index_dir)
                         == {i: d["fullpath"]
                             for i, d in self.live.docs.items()}, "upsert")

    # -- correctness -----------------------------------------------------

    def snapshot(self, state: str) -> None:
        """Keep the live documents as they stand, for the oracle."""
        self.live_docs[state] = dict(self.live.docs)

    def check(self) -> None:
        """Every collected answer against the oracle's answers for the
        live set it was asked over."""
        answers = {}
        for state in {state for state, _, _ in self.pending}:
            answers[state] = expected_answers(
                os.path.join(self.inputs.dir, f"expected-{state}.json"),
                self.live_docs[state], self.inputs.pool, K)
        for state, q, rows in self.pending:
            self.verdict(serve_rows_ok(rows, answers[state][q["id"]],
                                       self.live_docs[state]), "search")

    # -- results ---------------------------------------------------------

    def setup_s(self) -> float:
        """Session start, the set-up build (and open), and the warm-up,
        wherever the workload runs it."""
        return (self.t["session"][0] + self.t["setup"][0]
                + self.t["warmup"][0])

    def index_docs_per_s(self, cpu: bool) -> float:
        """Documents made searchable per second of indexing, wall or
        CPU: on serve the set-up build (``docs_from_code_table`` plus
        ``build_index``), on churn the timed upserts plus the
        compactions that close their cycles."""
        clock = "_cpu" if cpu else ""
        if self.workload == "churn":
            return (sum(u["docs"] for u in self.upserts)
                    / (sum(self.t["upsert" + clock])
                       + sum(self.t["compact" + clock])))
        return self.inputs.n_docs / self.t["build" + clock][0]

    def index_bytes_per_input_byte(self) -> float:
        """On-disk index bytes per byte of indexed content: the fresh
        build on serve, the compacted index on churn."""
        if self.workload == "churn":
            live = sum(len(d["body"].encode())
                       for d in self.live.docs.values())
            return dir_bytes(self.index_dir) / live
        return sum(self.index_bytes.values()) / self.inputs.input_bytes

    def e2e_metrics(self) -> dict:
        """Every end-to-end metric; each workload measures all of them.
        Query and indexing cost are CPU time of the whole machine
        (``cpu_seconds``), not wall: over ten seeds on a shared 4-vCPU
        VM, the interquartile range of churn's median query wall was
        0.26 of its median, that of its CPU time 0.14 (upsert
        throughput: 0.18 against 0.10), and a serve run with 12% of its
        CPU time stolen by other guests took 2.0 times the usual wall
        per query but 1.4 times the CPU.  The walls are in
        ``context()``.  Query cost is that of every timed query: on a
        fresh index for serve, over tombstones for churn.  A run times
        14 queries on each, one of every class, too few for a tail
        percentile, so only the median is reported."""
        return {
            "setup_s": (self.setup_s(), "s"),
            "query_cpu_p50_ms": (1000 * median(self.t["query_cpu"]), "ms"),
            "index_docs_per_cpu_s": (self.index_docs_per_s(cpu=True),
                                     "docs/cpu_s"),
            "index_bytes_per_input_byte":
                (self.index_bytes_per_input_byte(), "ratio"),
            "ok_frac": (1.0 - self.failed / max(1, self.attempted), "ratio"),
        }

    def samples(self) -> dict:
        n_query = len(self.t["query"])
        return {"setup_s": 1, "query_cpu_p50_ms": n_query,
                "index_docs_per_cpu_s": max(1, len(self.upserts)),
                "index_bytes_per_input_byte": 1,
                "ok_frac": self.attempted}

    def layer_metrics(self) -> dict:
        """Every per-layer metric, from the traced run's spans.  A layer
        the workload does not exercise reads 0."""
        tr = self.tracer
        setup = ("setup",)
        timed = ("timed",)
        out: dict = {}

        def put(name, value, unit):
            out[name] = (float(value), unit)

        def dur(name, phases, scale=1.0):
            return scale * median([s.dur for s in tr.named(name, phases)])

        def count(name, phases, attr):
            return median([getattr(s, attr) for s in tr.named(name, phases)])

        put("session.start_s", self.t["session"][0], "s")
        put("ingest.s", dur("ingest", setup), "s")
        tok = self.info["tokenize"]
        put("tokenize.docs_per_s", tok["docs"] / tok["s"], "docs/s")
        put("tokenize.terms_per_s", tok["terms"] / tok["s"], "terms/s")
        put("build.s", dur("build", setup), "s")
        # ingest and build of the set-up, the fresh-build throughput
        put("build.docs_per_s", self.inputs.n_docs / self.t["build"][0],
            "docs/s")
        stage_s = {st["stage"]: st["sec"] for st in self.manifest["stages"]}
        for st in BUILD_STAGES:
            put(f"build.{st}_s", stage_s.get(st, 0.0), "s")
        put("build.jobs", count("build", setup, "jobs"), "count")
        put("build.tasks", count("build", setup, "tasks"), "count")
        put("build.failed_tasks", count("build", setup, "failed_tasks"),
            "count")
        for part in INDEX_PARTS:
            put(f"build.{part}_bytes_per_input_byte",
                self.index_bytes[part] / self.inputs.input_bytes, "ratio")
        opens = ("setup", "timed")
        put("search.open_s", dur("search.open", opens), "s")
        put("search.open_jobs", count("search.open", opens, "jobs"), "count")

        def query_layers(suffix, ops):
            def per(name, scale=1.0):
                return scale * median([s.dur for s in tr.named(name, timed)
                                       if s.op in ops])

            def cnt(attr):
                return median([getattr(s, attr)
                               for s in tr.named("query", timed)
                               if s.op in ops])
            put("queryparse.parse_us" + suffix, per("queryparse", 1e6), "us")
            put("search.plan_ms" + suffix, per("search.plan", 1e3), "ms")
            put("search.exec_ms" + suffix, per("search.exec", 1e3), "ms")
            put("search.fetch_ms" + suffix, per("search.fetch", 1e3), "ms")
            put("search.jobs_per_query" + suffix, cnt("jobs"), "count")
            put("search.tasks_per_query" + suffix, cnt("tasks"), "count")

        query_ops = {s.op for s in tr.named("query", timed)}
        query_layers("", query_ops)
        shape_of = {q["id"]: q["shape"] for q in self.inputs.pool}
        for shape in SHAPES:
            query_layers("." + shape,
                         {op for op in query_ops
                          if shape_of[op.split("/")[1]] == shape})

        if self.workload == "churn":
            live_bytes = sum(len(d["body"].encode())
                             for d in self.live.docs.values())
            written = median([u["bytes_written"] / u["bytes_in"]
                              for u in self.upserts])
            rewritten = dir_bytes(self.index_dir) / live_bytes
        else:
            written = rewritten = 0.0
        put("upsert.s", dur("upsert", timed), "s")
        put("upsert.jobs", count("upsert", timed, "jobs"), "count")
        put("upsert.docs_per_s", self.index_docs_per_s(cpu=False)
            if self.workload == "churn" else 0.0, "docs/s")
        put("upsert.bytes_written_per_input_byte", written, "ratio")
        put("upsert.compact_s", dur("upsert.compact", timed), "s")
        put("upsert.compact_bytes_rewritten_per_live_byte", rewritten,
            "ratio")
        for layer in LAYERS:
            put(f"{layer}.errors", self.errors[layer], "count")
        timed_wall = self.t["timed"][0]
        put("trace.overhead_s", tr.overhead_s, "s")
        put("trace.overhead_frac", tr.overhead_s / timed_wall, "ratio")
        put("trace.spans", len(tr.spans), "count")
        # the traced run's own end-to-end figures, to set against the
        # untraced runs' for the tracing overhead
        for name, (value, unit) in self.e2e_metrics().items():
            if name != "ok_frac":
                put("traced." + name, value, unit)
        put("traced.query_p50_ms", 1000 * median(self.t["query"]), "ms")
        return out

    def context(self) -> dict:
        import pyspark
        jvm = self.spark.sparkContext._jvm
        return {
            "workload": self.workload, "seed": self.inputs.seed,
            "profile": self.inputs.profile_name,
            "n_docs": self.inputs.n_docs,
            "input_bytes": self.inputs.input_bytes,
            "churn_cycles": len(self.upserts),
            "nproc": os.cpu_count(),
            "spark_cores": self.cores,
            "loadavg_before": self.load_before,
            "loadavg_after": self.load_after,
            # share of CPU time the hypervisor gave to other guests
            # during the run: on a shared host, the main source of
            # run-to-run noise
            "cpu_steal_frac": steal_frac(self.steal_before,
                                         self.steal_after),
            "pyspark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "samples": self.samples(),
            "conf_by_phase": self.conf_by_phase,
            # walls, and CPU seconds for the keys ending in _cpu
            "seconds": {k: round(sum(v), 3) for k, v in self.t.items()},
            # the client's view of the figures reported as CPU time
            "query_p50_ms": 1000 * median(self.t["query"]),
            "index_docs_per_s": self.index_docs_per_s(cpu=False),
            "query_ms": [round(1000 * w, 1) for w in self.t["query"]],
            "query_cpu_ms": [round(1000 * w, 1) for w in self.t["query_cpu"]],
            "exceptions": self.info.get("exceptions", [])[:5],
        }

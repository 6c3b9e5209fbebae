"""End-to-end Spark engine tests: index build + query execution must be
rank+score identical to the pure-Python oracle (SURVEY.md §5.2)."""

import json
import os

import pytest

from conftest import assert_results_match, count_spark_jobs
from mdq_spark.build import DOCS_SCHEMA, build_index
from mdq_spark.oracle import OracleIndex
from mdq_spark.search import Searcher

pytestmark = pytest.mark.spark


DOCS = [
    dict(doc_id=1, fullpath="org/a/readme.md", title="Spark Engine Intro",
         subtitle="", authors=["ada"], date=1600000000, tags=["rust"],
         weight=0, writes=0, views=0,
         body="the spark query engine compiles plans quickly"),
    dict(doc_id=2, fullpath="org/a/src.md", title="sorting",
         subtitle="internals", authors=["ada", "bob"], date=1600003600,
         tags=["rust", "perf"], weight=0, writes=0, views=0,
         body="spark spark spark shuffles and sorts large data"),
    dict(doc_id=3, fullpath="org/b/notes.md", title="query planner",
         subtitle="", authors=["bob"], date=1600007200, tags=["python"],
         weight=0, writes=0, views=0,
         body="query planner costs and cardinality estimates"),
    dict(doc_id=4, fullpath="org/b/fox.md", title="animals",
         subtitle="", authors=["cyd"], date=1600010800, tags=[],
         weight=0, writes=0, views=0,
         body="the quick brown fox jumps over the lazy dog"),
    dict(doc_id=5, fullpath="org/c/fox2.md", title="more animals",
         subtitle="", authors=["cyd"], date=1600014400, tags=["python"],
         weight=0, writes=0, views=0,
         body="quick brown foxes jumping quickly around"),
    dict(doc_id=6, fullpath="org/c/hee.md", title="laughter",
         subtitle="", authors=["dan"], date=1600018000, tags=[],
         weight=0, writes=0, views=0, body="hee hee hee spark"),
    dict(doc_id=7, fullpath="org/c/hee2.md", title="hee",
         subtitle="", authors=["dan"], date=1600021600, tags=["rust"],
         weight=0, writes=0, views=0, body="hee spark hee"),
    dict(doc_id=8, fullpath="org/d/misc.md", title="misc",
         subtitle="", authors=[], date=1600025200, tags=[],
         weight=0, writes=0, views=0,
         body="c++ and c# code with AT&T's 3,14 tokens P.T.O. don't"),
    dict(doc_id=9, fullpath="org/d/tie1.md", title="tie",
         subtitle="", authors=[], date=1600028800, tags=[],
         weight=0, writes=0, views=0, body="zig zag"),
    dict(doc_id=10, fullpath="org/d/tie2.md", title="tie",
         subtitle="", authors=[], date=1600032400, tags=[],
         weight=0, writes=0, views=0, body="zig zag"),
]

QUERIES = [
    "spark",
    "spark ",
    "quick brown",
    '"quick brown" ',
    '"hee hee hee" ',
    "spark AND query",
    "spark AND NOT query",
    "planner OR fox",
    "spark XOR query",
    "quick AND MAYBE lazy",
    "quick FILTER lazy",
    "spark NEAR shuffles",
    "title:hee ",
    "tag:rust ",
    "author:bob quick",
    'title:"query planner" ',
    "qui",
    "zig ",
    "c++ ",
    "don't ",
    "3,14 ",
    "pto ",
    "NOT spark AND quick",
    "x SCALED 2",
    "jumping",
    "fox SYNONYM foxes",
    "quick ELITE lazy",
    # positional leaves under every outer operator (VERDICT r04 #5:
    # these fold into the tree kernel's single exchange since r5)
    '"quick brown" AND spark',
    '"quick brown" OR planner',
    '"quick brown" AND NOT foxes',
    '"quick brown" AND MAYBE lazy',
    'spark XOR "quick brown" ',
    'quick FILTER "brown fox" ',
    '"quick brown" SCALED 2',
]


def _sha(body):
    import hashlib
    return hashlib.sha256(body.encode()).hexdigest()


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    rows = [{**d, "sha256": _sha(d["body"])} for d in DOCS]
    df = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    manifest = build_index(spark, df, out, block_span=4, n_buckets=8)
    return out, manifest


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex.build(DOCS)


@pytest.fixture(scope="module")
def searcher(spark, index):
    return Searcher(spark, index[0])


def test_manifest_metrics(index):
    _, manifest = index
    m = manifest["metrics"]
    assert m["n_docs"] == 10
    assert m["n_postings"] > 0
    assert m["docs_per_sec"] > 0
    assert m["term_df_skew_factor"] >= 1.0


def test_stats_match_oracle(spark, index, oracle):
    out, manifest = index
    gs = manifest["globalstats"]
    assert int(gs["n_docs"]) == oracle.N
    assert gs["avg_doclen"] == pytest.approx(oracle.avg_doclen)
    # dict df/cf/wdf_max must equal oracle postings exactly
    rows = spark.read.parquet(f"{out}/dict").collect()
    got = {r["term"]: (r["df"], r["cf"], r["wdf_max"]) for r in rows}
    want = {
        t: (len(pl), sum(pl.values()), max(pl.values()))
        for t, pl in oracle.postings.items()
    }
    assert got == want


def test_docstats_match(spark, index, oracle):
    out, _ = index
    rows = spark.read.parquet(f"{out}/docstats").collect()
    got = {r["doc_id"]: r["doclen"] for r in rows}
    assert got == oracle.doclen


def test_block_structure(spark, index):
    out, _ = index
    post = spark.read.parquet(f"{out}/postings")
    rows = post.collect()
    for r in rows:
        assert r["first_doc"] <= r["last_doc"]
        assert r["n"] >= 1
        # doc-range blocking: block_span=4 in this fixture
        assert r["first_doc"] // 4 == r["block"]
        assert r["last_doc"] // 4 == r["block"]


@pytest.mark.parametrize("q", QUERIES)
def test_query_parity(searcher, oracle, q):
    expected = oracle.search(q)
    actual = searcher.search(q)
    assert_results_match(expected, actual)


def test_metadata_filter_pushdown(searcher, oracle, spark):
    from pyspark.sql import functions as F
    expected = oracle.search(
        "quick ", predicate=lambda d: "python" in d["tags"])
    actual = searcher.search(
        "quick ", filters=F.array_contains(F.col("tags"), "python"))
    assert_results_match(expected, actual)


def test_date_filter_pushdown(searcher, oracle):
    from pyspark.sql import functions as F
    lo = 1600010000
    expected = oracle.search("quick ", predicate=lambda d: d["date"] >= lo)
    actual = searcher.search("quick ", filters=F.col("date") >= lo)
    assert_results_match(expected, actual)


def test_fetch_winners(searcher):
    df = searcher.query_df("spark ", k=3)
    rows = searcher.fetch(df).collect()
    assert len(rows) == 3
    assert all(r["fullpath"] for r in rows)


# every shape _compile_block_spec compiles: lone term, free text,
# phrase, field, prefix, and the boolean / positional operators
DRIVER_SHAPES = ["spark ", "quick brown", '"quick brown" ', "title:hee ",
                 "qui", "spark AND NOT query", "quick AND MAYBE lazy",
                 "planner OR fox", "spark XOR query", "quick FILTER lazy",
                 "spark NEAR shuffles", "x SCALED 2", "zig "]


def test_driver_path_runs_no_spark_job(spark, searcher, oracle):
    """A compiled plan under the volume check is answered on the
    driver: dictionary probe, posting read, kernel, top-k and fetch run
    no Spark job, and the answer equals the oracle's."""
    _, n = count_spark_jobs(spark, lambda: spark.range(3).count())
    assert n >= 1  # the counter does see jobs
    for q in DRIVER_SHAPES:
        rows, n = count_spark_jobs(
            spark, lambda: searcher.fetch(searcher.query_df(q, k=5))
            .collect())
        assert n == 0, q
        assert all(r["fullpath"] for r in rows), q
        assert_results_match(oracle.search(q, k=5),
                             [(r["doc_id"], r["score"]) for r in rows])


def test_top_k_matches_sorted_order():
    """The driver's numpy top-k equals sorting by (-weight, doc_id),
    ties at the k-th weight included."""
    import numpy as np
    import pandas as pd
    from mdq_spark.search import _top_k
    rng = np.random.default_rng(7)
    for _ in range(200):
        n, k = int(rng.integers(0, 40)), int(rng.integers(0, 12))
        ids = rng.permutation(1000)[:n].astype("int64")
        w = rng.integers(0, 5, n) / 3.0  # many exact ties
        want = sorted(zip(ids.tolist(), w.tolist()),
                      key=lambda t: (-t[1], t[0]))[:k]
        got = _top_k(pd.DataFrame({"doc_id": ids, "weight": w}), k)
        assert list(zip(got["doc_id"].tolist(),
                        got["score"].tolist())) == want


def test_dict_scan_many_prefixes(searcher):
    """Hundreds of prefixes (a batch_search log's worth) build a
    balanced OR: the Spark dictionary scan and the distributed
    escalation both complete and agree with the pyarrow probe.  A
    left-deep OR of 1,000 overflows the driver JVM's default stack."""
    prefixes = ["qu", "sp", "pl"] + [f"zz{i:03d}" for i in range(997)]
    arrow = searcher._dict_rows_arrow([], prefixes, None)
    scan = searcher._dict_scan([], prefixes)
    assert scan.count() == len(arrow)
    probe = searcher._dict_lookup([], prefixes)
    dist = searcher._dict_lookup_distributed(scan, [], prefixes)
    assert dist["expansions"] == probe["expansions"]
    assert probe["expansions"]["qu"]  # the real prefixes do expand
    assert {t: (d["df"], d["cf"]) for t, d in dist["all"].items()} == \
        {t: (d["df"], d["cf"]) for t, d in probe["all"].items()}


def test_resume_skips_completed_stages(spark, index):
    out, _ = index
    # re-running build with the same dir must be a fast no-op resume
    rows = [{**d, "sha256": _sha(d["body"])} for d in DOCS]
    df = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    manifest2 = build_index(spark, df, out, block_span=4, n_buckets=8)
    assert manifest2["stages"] == []  # nothing re-ran


def test_sha256_invariant(spark, index):
    out, _ = index
    docs = spark.read.parquet(f"{out}/docs").collect()
    for r in docs:
        assert r["sha256"] == _sha(r["body"])


def test_partial_run_merge_identity(spark, index):
    """The two-phase inversion (map-side partial runs + reduce-side
    concat merge, VERDICT r04 #1) must produce identical posting
    content no matter how the staging is split: one partition (every
    group one partial — the vectorized pass-through), several doc-range
    partitions (disjoint merge with bridge-gap varint patches), and a
    round-robin split that VIOLATES the doc-disjointness invariant
    (overlapping partials — the pass-through fallback emits multiple
    rows per group, which the query kernels merge like upsert gens)."""
    from pyspark.sql import functions as F
    from mdq_spark import bm25
    from mdq_spark.build import invert_postings
    from mdq_spark.codec import (
        decode_doc_gaps, decode_positions, varint_decode,
    )

    out, manifest = index
    terms = spark.read.parquet(f"{out}/terms") \
        .filter(F.col("gen") == 0).drop("bucket")
    lf = bm25.len_factor(manifest["globalstats"]["avg_doclen"])

    def decoded(df):
        rows = []
        for r in df.collect():
            n = int(r["n"])
            ids = decode_doc_gaps(bytes(r["doc_gaps"]), n)
            wdfs = varint_decode(bytes(r["wdfs"]), n)
            dls = varint_decode(bytes(r["doclens"]), n)
            # block metadata must describe the decoded run exactly
            assert int(r["first_doc"]) == int(ids[0])
            assert int(r["last_doc"]) == int(ids[-1])
            assert int(r["block_max_wdf"]) == int(wdfs.max())
            assert int(r["block_min_doclen"]) == int(dls.min())
            pls = decode_positions(bytes(r["positions"]), n) \
                if r["positions"] is not None else [()] * n
            for i in range(n):
                rows.append((r["term"], int(r["block"]), int(ids[i]),
                             int(wdfs[i]), int(dls[i]),
                             tuple(int(x) for x in pls[i])))
        return sorted(rows)

    base = decoded(invert_postings(terms.coalesce(1), lf, 8))
    ranged = invert_postings(
        terms.repartitionByRange(4, "doc_id"), lf, 8)
    assert decoded(ranged) == base
    assert decoded(invert_postings(terms.repartition(4), lf, 8)) == base
    # doc-range splits keep the disjointness invariant, so their
    # partials must actually MERGE: one row per (term, block)
    assert int(ranged.groupBy("term", "block").count()
               .agg(F.max("count")).collect()[0][0]) == 1


PRUNE_QUERIES = ["spark", "quick brown", "qui", "zig ", "spark "]


@pytest.mark.parametrize("q", PRUNE_QUERIES)
def test_blockmax_prune_identical(searcher, q):
    # the fixture index uses block_span=4 -> 3 blocks; force pruning and
    # assert identical results to the unpruned path
    plain = searcher.query_df(q, k=3, prune="never").collect()
    pruned = searcher.query_df(q, k=3, prune="always").collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in plain] == \
           [(r["doc_id"], round(r["score"], 9)) for r in pruned]


@pytest.mark.parametrize("q", PRUNE_QUERIES)
def test_blockmax_prune_semijoin_path(spark, index, q):
    """VERDICT r02 #1: when the kept-block set exceeds the constant
    driver collect cap, pruning applies it as a broadcast semi-join
    instead of collecting ids — results must stay identical."""
    s = Searcher(spark, index[0])
    s.PRUNE_COLLECT_CAP = 0  # force the blocks_df path for any kept set
    plain = s.query_df(q, k=3, prune="never").collect()
    pruned = s.query_df(q, k=3, prune="always").collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in plain] == \
           [(r["doc_id"], round(r["score"], 9)) for r in pruned]


def test_prune_stats_recorded(spark, index):
    """The bound sweep records its effectiveness (n_blocks / seed /
    kept / docs_ub) for observability — scripts/prune_stats.py and
    prune_demo.py read this after a forced-prune run."""
    s = Searcher(spark, index[0])
    # k=1 so the seed pass covers k with one block and the sweep
    # actually reaches the kept-set decision on the 3-block fixture
    s.query_df("spark ", k=1, prune="always").collect()
    st = getattr(s, "_last_prune_stats", None)
    assert st is not None
    assert st["n_blocks"] >= 1
    assert 1 <= st["seed"] <= st["n_blocks"]
    assert 0 <= st["kept"] <= st["n_blocks"]
    assert st["docs_ub"] >= 1
    assert st["theta"] > 0


def test_wildcard_collect_bounded(spark, index, searcher):
    """ADVICE r03 (medium): the wildcard_limit cap is applied inside
    the distributed scan — the driver never collects more than
    ``len(terms) + wildcard_limit × len(patterns)`` dict rows, and the
    capped expansion equals the old driver-side truncation (top-df,
    ties by term, final list alphabetical)."""
    full = searcher._dict_lookup([], ["q"])
    allq = full["all"]
    assert len(full["expansions"]["q"]) > 2  # prefix is actually hot
    s = Searcher(spark, index[0], wildcard_limit=2)
    d = s._dict_lookup(["spark"], ["q"])
    assert s._last_dict_rows_collected <= 1 + 2
    expect = sorted(sorted(full["expansions"]["q"],
                           key=lambda t: (-allq[t]["df"], t))[:2])
    assert d["expansions"]["q"] == expect
    # exact stats are identical between the two code paths
    exact_only = searcher._dict_lookup(["spark"], [])
    assert d["exact"]["spark"]["df"] == exact_only["exact"]["spark"]["df"]
    assert d["exact"]["spark"]["cf"] == exact_only["exact"]["spark"]["cf"]
    # uncapped distributed path matches the full expansion
    s2 = Searcher(spark, index[0], wildcard_limit=None)
    assert s2._dict_lookup([], ["q"])["expansions"]["q"] == \
        full["expansions"]["q"]


# covers Term children, (WILDCARD x OR Zstem) children (the parsed
# free-text shape), multi-term PHRASE, flat OR unions, and — via the
# boolean tree kernel (VERDICT r03 #5) — AND_NOT / AND_MAYBE / FILTER /
# XOR trees, which previously ran as DataFrame joins
BLOCK_MERGE_QUERIES = [
    "spark AND query", "spark AND query ", '"quick brown" ',
    '"hee hee hee" ', "spark OR quick", "planner OR fox",
    "spark quick planner",
    "spark AND NOT query", "quick AND MAYBE lazy",
    "quick FILTER lazy", "spark XOR query",
    "spark AND NOT query ", "qui* AND NOT planner",
    # positional leaves inside boolean trees (VERDICT r04 #5)
    '"quick brown" AND NOT foxes', 'spark XOR "quick brown" ',
    '"quick brown" AND MAYBE lazy', "spark NEAR shuffles"]


def test_block_merge_single_exchange(searcher, monkeypatch):
    """AND and positional plans use the block-local merge: AT MOST one
    Exchange of ENCODED rows on the block key, no shuffle join of
    decoded streams (VERDICT r01 #8), no per-row Python (VERDICT r01
    #2).  When the dictionary proves the scan volume is tiny the plan
    is evaluated on the driver and the result is a local relation —
    both paths are pinned here."""
    for q in BLOCK_MERGE_QUERIES:
        df = searcher.query_df(q, k=3, prune="never")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # tiny fixture -> evaluated on the driver, no Spark operators
        assert plan.startswith("LocalTableScan"), (q, plan)
    # force the at-scale path: plan shape (no joins; one exchange)
    monkeypatch.setattr(Searcher, "LOCAL_EVAL_ROWS", 0)
    for i, q in enumerate(BLOCK_MERGE_QUERIES):
        df = searcher.query_df(q, k=3, prune="never")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, q
        assert "ShuffledHashJoin" not in plan, q
        if i < 4:
            assert plan.count("Exchange") == 1, (q, plan)


def test_driver_path_equals_exchange_path(searcher, monkeypatch):
    """The driver evaluation and the block exchange run the same
    per-block function: identical (doc_id, score) lists, exact."""
    def run():
        return {q: [(r["doc_id"], r["score"]) for r in
                    searcher.query_df(q, k=10, prune="never").collect()]
                for q in BLOCK_MERGE_QUERIES}
    local = run()
    monkeypatch.setattr(Searcher, "LOCAL_EVAL_ROWS", 0)
    assert run() == local
    assert any(local.values())


@pytest.mark.parametrize("pct", [20, 50, 80])
def test_percent_cutoff_parity(searcher, oracle, pct):
    """Enquire::set_cutoff(percent) parity (omenquire.cc:872-876):
    unit-decomposable OR trees use the exact matched-subquery ratio;
    AND-shaped trees use ratio 1."""
    for q in ["spark OR quick", "planner OR fox", "spark AND query "]:
        exp = oracle.search(q, percent_cutoff=pct)
        act = [(r["doc_id"], r["score"]) for r in
               searcher.query_df(q, k=100, percent_cutoff=pct).collect()]
        assert_results_match(exp, act)


def test_percent_cutoff_monotone(searcher, oracle):
    q = "spark OR quick OR planner"
    sizes = [len(searcher.query_df(q, k=100, percent_cutoff=p).collect())
             for p in (0, 30, 60, 90)]
    assert sizes == sorted(sizes, reverse=True)
    assert sizes[0] > sizes[-1]  # the cutoff actually bites


def test_spelling_suggestion(searcher, oracle):
    """Q18: trigram-fragment spelling suggestion, engine == pure-Python
    oracle, plus golden expectations on the fixture corpus."""
    words = ["spakr", "shufles", "queyr", "plannr", "spark", "qick",
             "ee", "x", ""]
    for w in words:
        assert searcher.suggest(w) == oracle.suggest(w), w
    assert searcher.suggest("spakr") == "spark"
    assert searcher.suggest("shufles") == "shuffles"
    assert searcher.suggest("x") == ""  # too short
    # frequent exact word: suggestion suppressed
    assert searcher.suggest("spark") == ""


def test_spelling_autobuild_on_build(spark, tmp_path_factory):
    """VERDICT r03 #6: build_index(spelling=True) publishes the
    fragment table, so a COLD index answers its first suggest() from
    the prebuilt bucketed table; removing the pointer falls back to the
    on-the-fly path with identical answers."""
    from mdq_spark.spell import _current_table, _meta_path
    out = str(tmp_path_factory.mktemp("spellidx"))
    rows = [{**d, "sha256": _sha(d["body"])} for d in DOCS]
    df = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    build_index(spark, df, out, block_span=4, n_buckets=8, spelling=True)
    s = Searcher(spark, out)
    assert _current_table(s) is not None  # prebuilt and current
    words = ["spakr", "shufles", "plannr", "spark"]
    prebuilt = s.batch_suggest(words)
    os.remove(_meta_path(out))  # force the on-the-fly fallback
    assert Searcher(spark, out).batch_suggest(words) == prebuilt
    assert prebuilt["spakr"] == "spark"


def test_spelling_fragments_and_distance():
    from mdq_spark.spell import edit_distance, word_fragments
    assert word_fragments("fish") == ["Hfi", "Tsh", "Bfh", "Mfis", "Mish"]
    assert word_fragments("ab", query_side=True) == \
        ["Hab", "Tab", "Bab", "Hba", "Tba"]
    assert edit_distance("spark", "spakr") == 1     # transposition
    assert edit_distance("spark", "spark") == 0
    assert edit_distance("spark", "sprk") == 1      # deletion
    assert edit_distance("table", "tble") == 1
    assert edit_distance("abc", "ca") == 3          # OSA, not full DL


def test_pagination_parity(searcher, oracle):
    exp = oracle.search("spark ", k=3, offset=2)
    act = searcher.search("spark ", k=3, offset=2)
    assert_results_match(exp, act)


def test_match_counts(searcher, oracle):
    assert searcher.match_counts("spark ") == oracle.match_counts("spark ")
    assert searcher.match_counts("zzzznope ")["matches_estimated"] == 0


def test_collapse(searcher, oracle):
    exp = oracle.collapse("spark OR quick", "title", k=10)
    rows = searcher.collapse("spark OR quick", "title", k=10).collect()
    got = [(r["doc_id"], r["title"], r["score"]) for r in rows]
    assert len(got) == len(exp)
    assert {g[0] for g in got} == {e[0] for e in exp}
    for (gd, gt, gs), (ed, et, es) in zip(sorted(got), sorted(exp)):
        assert gd == ed and gt == et and abs(gs - es) < 1e-9


def test_serialization_projections(searcher):
    df = searcher.query_df("spark ", k=2)
    for mode, cols in searcher.SERIALIZATIONS.items():
        out = searcher.fetch(df, serialization=mode)
        assert set(out.columns) == set(cols) | {"score"}


# FIXTURES.md §4: the reference's own query set, run end-to-end for
# rank+score parity (not just plan-description parity)
FIXTURE_QUERIES = [
    'title:hee  spark quick author:dan fox tag:rust "hee hee hee" ',
    'title:"spark engine intro" author:ada tag:rust',
    'title:hee "quick brown" author:"ada bob" fox tag:python "hee hee"',
    "spark AND brown", "spark AND NOT tag:rust", "quick OR planner",
    "quick XOR fox", "spark AND MAYBE sorts", "spark FILTER shuffles",
    "quick NEAR brown", '"quick brown" ', "spark SCALED 2",
    "spar",                       # partial prefix expansion
    "spark and quick",            # lowercase: no outer split
    "",                           # empty -> no results
]


@pytest.mark.parametrize("q", FIXTURE_QUERIES)
def test_fixture_query_parity(searcher, oracle, q):
    assert_results_match(oracle.search(q), searcher.search(q))


def test_weight_cutoff(searcher, oracle):
    base = oracle.search("spark ")
    cut = base[1][1]  # second-best score as cutoff
    expected = [(d, w) for d, w in base if w >= cut]
    rows = searcher.query_df("spark ", min_weight=cut).collect()
    actual = [(r["doc_id"], r["score"]) for r in rows]
    assert_results_match(expected, actual)


def test_batch_search_matches_individual(searcher, oracle):
    # covers the shared-kernel path (plain/boolean/positional/wildcard
    # specs in ONE exchange), the MatchAll fallback union, and a
    # no-match query (absent from the output)
    queries = {"a": "spark ", "b": "quick brown", "c": '"hee hee hee" ',
               "d": "spark AND NOT query", "e": "NOT spark AND quick",
               "f": "qui", "g": '"quick brown" AND NOT foxes',
               "h": "zzznosuchterm "}
    out = searcher.batch_search(queries, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for qid, q in queries.items():
        expected = oracle.search(q, k=5)
        got = sorted(by_q.get(qid, []))
        assert_results_match(expected, [(d, s) for _, d, s in got])


def test_batch_search_single_shared_exchange(searcher, monkeypatch):
    """The whole compilable log runs as ONE tree-kernel exchange — not
    one exchange per query (r5 replay path).  The fixture's log is under
    the volume check, so the exchange path is forced."""
    monkeypatch.setattr(searcher, "LOCAL_EVAL_ROWS", 0)
    queries = {f"q{i}": q for i, q in enumerate(
        ["spark ", "quick brown", "spark AND NOT query",
         '"quick brown" ', "planner OR fox", "qui"])}
    df = searcher.batch_search(queries, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    # one exchange for the kernel + one for the per-query rank window
    assert plan.count("Exchange") <= 2, plan


def test_batch_groups_packing(searcher):
    """_batch_groups charges a group only for terms it doesn't already
    carry, packs greedily in log order, and never splits a single
    over-budget query."""
    dfs = {"a": {"df": 10}, "b": {"df": 10}, "c": {"df": 50}}
    ctx = {"dict": {"all": dfs}}

    def leaf(t):  # ("leaf", [(wqf?, term-set, ...)]) — _spec_terms shape
        return ("leaf", [(1.0, [t], 1)])

    items = [("q1", leaf("a")), ("q2", leaf("a")),
             ("q3", leaf("b")), ("q4", leaf("c"))]
    old = searcher.batch_rows_cap
    try:
        searcher.batch_rows_cap = 25
        groups = searcher._batch_groups(items, ctx)
        # q1+q2 share 'a' (cost 10), q3 adds 10 -> 20 <= 25; q4 (50)
        # overflows and runs alone despite exceeding the cap by itself
        assert [[q for q, _ in g] for g in groups] == \
            [["q1", "q2", "q3"], ["q4"]]
        searcher.batch_rows_cap = None
        assert searcher._batch_groups(items, ctx) == [items]
        searcher.batch_rows_cap = 1_000_000
        assert searcher._batch_groups(items, ctx) == [items]
    finally:
        searcher.batch_rows_cap = old


def test_batch_search_volume_cap_grouping(spark, index, oracle):
    """batch_rows_cap (round 5, amp10000 finding): a log whose union
    df volume exceeds the cap splits into several bounded exchanges —
    with results identical to the uncapped single exchange and to the
    per-query oracle."""
    from mdq_spark.search import Searcher
    queries = {"a": "spark ", "b": "quick brown", "c": "spark query",
               "d": "spark AND NOT query", "e": '"hee hee hee" '}
    s1 = Searcher(spark, index[0], batch_rows_cap=1)  # one query/group
    s1.LOCAL_EVAL_ROWS = 0  # groups take the exchange, s0's the driver
    # grouping is observable: >1 kernel pass in the plan
    df = s1.batch_search(queries, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") > 1, plan
    out = df.collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    s0 = Searcher(spark, index[0], batch_rows_cap=None)
    base = {}
    for r in s0.batch_search(queries, k=5).collect():
        base.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for qid, q in queries.items():
        assert sorted(by_q.get(qid, [])) == sorted(base.get(qid, [])), qid
        expected = oracle.search(q, k=5)
        got = sorted(by_q.get(qid, []))
        assert_results_match(expected, [(d, s) for _, d, s in got])


def test_fused_termlist_matches_v4_staging_kernel(spark, index):
    """Round-6 fused build: the derived forward termlist (terms/, now
    decoded back out of the partial posting runs) must be row-identical
    — including position blobs and buckets — to what the v4
    row-per-(doc, term) staging kernel produces over the same forward
    store."""
    from pyspark.sql import functions as F
    from mdq_spark.build import TERMS_SCHEMA, _tokenize_batches

    out, _ = index
    derived = spark.read.parquet(f"{out}/terms").drop("gen")
    docs = spark.read.parquet(f"{out}/docs").drop("gen")
    ref = docs.mapInPandas(_tokenize_batches(8, 4, "xapian", False),
                           schema=TERMS_SCHEMA)

    def rows(df):
        picked = df.select(
            "term", "bucket", "block", "doc_id", "wdf", "doclen",
            F.coalesce(F.hex(F.col("positions")), F.lit("NULL"))
            .alias("p"))
        return sorted(tuple(r) for r in picked.collect())

    assert rows(derived) == rows(ref)


def test_fused_partials_merge_to_same_postings(spark, index):
    """The postings/ dir written from the fused partials must hold the
    same decoded posting content as a from-staging invert_postings run
    (the upsert path's pipeline) over the derived termlist."""
    from pyspark.sql import functions as F
    from mdq_spark import bm25
    from mdq_spark.build import invert_postings
    from mdq_spark.codec import (
        decode_doc_gaps, decode_positions, varint_decode,
    )

    out, manifest = index
    lf = bm25.len_factor(manifest["globalstats"]["avg_doclen"])
    terms = spark.read.parquet(f"{out}/terms") \
        .filter(F.col("gen") == 0).drop("bucket")

    def decoded(df):
        rows = []
        for r in df.collect():
            n = int(r["n"])
            ids = decode_doc_gaps(bytes(r["doc_gaps"]), n)
            wdfs = varint_decode(bytes(r["wdfs"]), n)
            dls = varint_decode(bytes(r["doclens"]), n)
            pls = decode_positions(bytes(r["positions"]), n) \
                if r["positions"] is not None else [()] * n
            for i in range(n):
                rows.append((r["term"], int(r["block"]), int(ids[i]),
                             int(wdfs[i]), int(dls[i]),
                             tuple(int(x) for x in pls[i])))
        return sorted(rows)

    built = decoded(spark.read.parquet(f"{out}/postings")
                    .filter(F.col("gen") == 0))
    ref = decoded(invert_postings(terms.coalesce(1), lf, 8))
    assert built == ref


def test_fused_kernel_repairs_unsorted_partition(spark):
    """The fused tokenize->encode kernel verifies ascending doc order
    per partition and falls back to a per-term argsort at flush when
    violated — encoded runs must come out identical either way."""
    from pyspark.sql import functions as F
    from mdq_spark.build import (
        DOCS_SCHEMA, PARTIALS_SCHEMA, _tokenize_encode_batches,
    )

    rows = [{**d, "sha256": _sha(d["body"])} for d in DOCS]
    fwd = [r for r in rows if r["doc_id"] <= 3]
    rev = list(reversed(fwd))
    kern = _tokenize_encode_batches(8, 1 << 16, "xapian", False)

    def encode(doclist):
        df = spark.createDataFrame(doclist, schema=DOCS_SCHEMA) \
            .coalesce(1)
        part = df.mapInPandas(kern, schema=PARTIALS_SCHEMA)
        return sorted(
            tuple(r) for r in part.select(
                "term", "block", "first_doc", "last_doc", "n",
                F.hex("doc_gaps"), F.hex("wdfs"), F.hex("doclens"),
                F.coalesce(F.hex(F.col("positions")), F.lit("NULL")),
                "block_max_wdf", "block_min_doclen", "sum_wdf")
            .collect())

    assert encode(rev) == encode(fwd)


def test_docs_stage_range_shuffle_skip(spark, tmp_path, monkeypatch):
    """_ranges_disjoint: dense_ids/documents-table inputs (disjoint
    per-partition doc-id ranges) skip the forward-store range exchange;
    hash-partitioned input falls back to the shuffle.  Either way the
    written forward store is doc-clustered and the built index is
    identical.  The exchange belongs to the Spark build executor."""
    from pyspark.sql import functions as F
    from mdq_spark.build import DOCS_SCHEMA, IndexBuilder

    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", 0)
    rows = [{**d, "sha256": _sha(d["body"])} for d in DOCS]
    df = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    b = IndexBuilder(spark, str(tmp_path / "i"))
    ordered = df.repartitionByRange(3, "doc_id")
    assert b._ranges_disjoint(ordered)
    hashed = df.repartition(3, "doc_id")
    assert not b._ranges_disjoint(hashed)

    out = str(tmp_path / "idx_hashed")
    manifest = build_index(spark, hashed, out, block_span=4, n_buckets=8)
    # the fallback path still writes doc-clustered FILES with pairwise
    # disjoint doc-id ranges (read-side split PACKING may interleave
    # small files into one task — the merge kernel's overlap fallback
    # covers that by design; the written layout is what matters here)
    import glob
    import pyarrow.parquet as pq
    spans = []
    for f in glob.glob(f"{out}/docs/*.parquet"):
        ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        if ids:
            assert ids == sorted(ids), f
            spans.append((min(ids), max(ids)))
    spans.sort()
    assert all(a[1] < b2[0] for a, b2 in zip(spans, spans[1:]))
    assert manifest["metrics"]["n_docs"] == len(DOCS)


def test_partial_resume_reruns_only_missing_stage(spark, index, tmp_path):
    """Round-6 parallel stages are independently resumable: wiping one
    downstream artifact re-runs ONLY that stage (stats reload from the
    surviving artifacts), and the rebuilt stage's content matches."""
    import shutil

    out = str(tmp_path / "idx")
    rows = [{**d, "sha256": _sha(d["body"])} for d in DOCS]
    df = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    m1 = build_index(spark, df, out, block_span=4, n_buckets=8)
    before = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/postings")
        .select("term", "block", "n").collect())
    shutil.rmtree(f"{out}/postings")
    m2 = build_index(spark, df, out, block_span=4, n_buckets=8)
    assert [s["stage"] for s in m2["stages"]] == ["postings"]
    after = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/postings")
        .select("term", "block", "n").collect())
    assert after == before
    assert m2["metrics"]["n_postings"] == m1["metrics"]["n_postings"]


def test_termlist_arrow_kernel_matches_row_kernel():
    """Round-6: the vectorized Arrow termlist kernel must be
    byte-identical to the row-path kernel it replaced — including a
    MIXED run (stored position count != wdf via an EMPTY_POSITIONS
    member), which must take the verified fallback and map the 1-byte
    empty encoding back to NULL."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from mdq_spark.build import _termlist_kernel, _termlist_kernel_rows
    from mdq_spark.codec import EMPTY_POSITIONS

    def varint(v):
        out = bytearray()
        while v >= 128:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
        return bytes(out)

    def run_row(term, bucket, block, ids, wdfs, dls, pieces):
        gaps = [ids[0]] + [b - a - 1 for a, b in zip(ids, ids[1:])]
        return {
            "term": term, "bucket": bucket, "block": block,
            "n": len(ids),
            "doc_gaps": b"".join(varint(g) for g in gaps),
            "wdfs": b"".join(varint(w) for w in wdfs),
            "doclens": b"".join(varint(d) for d in dls),
            "positions": pieces,
        }

    def pos_piece(gaps):
        return varint(len(gaps)) + b"".join(varint(g) for g in gaps)

    rows = [
        # plain positional run, multi-byte wdf varint included
        run_row("alpha", 3, 0, [1, 5, 9], [2, 200, 1], [10, 12, 9],
                pos_piece([0, 3]) + pos_piece(list(range(200)))
                + pos_piece([7])),
        # non-positional run (Z-stems): NULL blob
        run_row("Zbeta", 1, 0, [2, 3], [1, 4], [8, 11], None),
        # MIXED run: second member is EMPTY_POSITIONS (count 0 != wdf 5)
        run_row("gamma", 2, 0, [4, 6], [1, 5], [7, 7],
                pos_piece([2]) + EMPTY_POSITIONS),
    ]
    pdf = pd.DataFrame(rows)
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)

    new = pa.Table.from_batches(
        list(_termlist_kernel(8)(iter([batch])))).to_pandas()
    old = pd.concat(list(_termlist_kernel_rows(8)(iter([pdf]))),
                    ignore_index=True)
    key = ["term", "block", "doc_id"]
    new = new.sort_values(key).reset_index(drop=True)
    old = old.sort_values(key).reset_index(drop=True)
    assert len(new) == len(old) == 7
    for c in ["term", "bucket", "block", "doc_id", "wdf", "doclen"]:
        assert list(new[c]) == list(old[c]), c
    npos = [None if b is None else bytes(b) for b in new["positions"]]
    opos = [None if b is None else bytes(b) for b in old["positions"]]
    assert npos == opos
    # the EMPTY_POSITIONS member must surface as NULL in both
    g = new[new["term"] == "gamma"].sort_values("doc_id")
    assert list(g["positions"].map(lambda b: b is None)) == [False, True]

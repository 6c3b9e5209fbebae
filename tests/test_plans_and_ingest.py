"""Physical-plan shape assertions (pushdowns the engine is designed
around) and ingest-path tests for the code-table and markdown sources."""

import pytest

from pyspark.sql import functions as F

from conftest import assert_results_match
from mdq_spark.build import (
    DOCS_SCHEMA, IndexBuilder, _read_table, build_index,
)
from mdq_spark.oracle import OracleIndex
from mdq_spark.search import Searcher

pytestmark = pytest.mark.spark


CODE_ROWS = [
    ("org/alpha", "src/main.rs", "a" * 40, "rust",
     "fn main() { sort(); merge(); }"),
    ("org/alpha", "README.md", "b" * 40, "markdown",
     "sorting and merging utilities"),
    ("org/beta", "lib.py", "c" * 40, "python",
     "def merge(xs): return sorted(xs)"),
    ("org/beta", "test.py", "d" * 40, "python",
     "assert merge([2, 1]) == [1, 2]"),
]


@pytest.fixture(scope="module")
def code_df(spark):
    return spark.createDataFrame(
        CODE_ROWS, "repo string, path string, commit string, "
                   "lang string, content string")


def _index_docs(out):
    """The ``docs/`` rows of the index at ``out``, every generation, in
    doc_id order."""
    return _read_table(f"{out}/docs").sort_by("doc_id").to_pylist()


def test_code_table_ingest(spark, code_df, tmp_path_factory):
    from mdq_spark.ingest import docs_from_code_table
    docs_df = docs_from_code_table(spark, code_df)
    # no ids at ingest: the rows come in (repo, path) order, and the
    # build numbers them 1-based in that order
    assert docs_df.columns == [f.name for f in DOCS_SCHEMA.fields
                               if f.name != "doc_id"]
    docs = docs_df.collect()
    assert [r["fullpath"] for r in docs] == \
        [f"{repo}/{path}" for repo, path, *_ in sorted(CODE_ROWS)]
    out = str(tmp_path_factory.mktemp("ingestids"))
    build_index(spark, docs_df, out, block_span=4, n_buckets=8)
    assert [(r["doc_id"], r["fullpath"]) for r in _index_docs(out)] == \
        list(enumerate((r["fullpath"] for r in docs), 1))
    r = {r["fullpath"]: r for r in docs}["org/alpha/src/main.rs"]
    assert r["tags"] == ["rust"]
    assert r["body"].startswith("fn main")
    assert len(r["sha256"]) == 64


def test_code_table_ids_repo_path_order(spark, tmp_path, monkeypatch):
    """ADVICE r03: a build numbers in (repo, path) column order, NOT
    fullpath string order — 'org/alpha-x' sorts BEFORE 'org/alpha/' as
    a string ('-' < '/'), but AFTER it as a (repo, path) tuple.  An
    upsert of the same two paths numbers its batch in fullpath order,
    the upsert key's.  Both executors number alike."""
    import pyarrow as pa
    from mdq_spark.ingest import docs_from_code_table
    from mdq_spark.upsert import upsert
    # Arrow-backed, so Catalyst sizes it and a small input takes the
    # driver executor at the default limit
    code = spark.createDataFrame(pa.table({
        "repo": ["org/alpha-x", "org/alpha"], "path": ["a.py", "z.py"],
        "commit": ["e" * 40, "f" * 40], "lang": ["python", "python"],
        "content": ["x", "y"]}))
    for executor, limit in (("driver", IndexBuilder.DRIVER_BUILD_BYTES),
                            ("spark", 0)):
        monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", limit)
        out = str(tmp_path / executor)
        m = build_index(spark, docs_from_code_table(spark, code), out,
                        block_span=4, n_buckets=8)
        assert m["executor"] == executor
        m = upsert(spark, out, docs_from_code_table(spark, code))
        assert m["upserts"][-1]["executor"] == executor
        assert m["next_doc_id"] == 5
        assert [(r["doc_id"], r["gen"], r["fullpath"])
                for r in _index_docs(out)] == [
            (1, 0, "org/alpha/z.py"), (2, 0, "org/alpha-x/a.py"),
            (3, 1, "org/alpha-x/a.py"), (4, 1, "org/alpha/z.py")]


def test_code_table_end_to_end(spark, code_df, tmp_path_factory):
    from mdq_spark.ingest import docs_from_code_table
    out = str(tmp_path_factory.mktemp("codeidx"))
    build_index(spark, docs_from_code_table(spark, code_df), out,
                block_span=4, n_buckets=8)
    # the oracle indexes the rows the build numbered
    oracle = OracleIndex.build(_index_docs(out))
    s = Searcher(spark, out)
    for q in ["merge ", "sort AND merge", "tag:python merge"]:
        assert_results_match(oracle.search(q), s.search(q))


def test_markdown_files_ingest(spark, tmp_path_factory):
    from mdq_spark.ingest import docs_from_markdown_files
    root = tmp_path_factory.mktemp("mdroot")
    (root / "note1.md").write_text(
        "---\ntitle: First\ntags:\n- vim\n---\nhello grep world\n")
    (root / "note2.md").write_text(
        "---\ntitle: Second\nauthor: ada\ndate: 12345\n---\nbye\n")
    (root / "broken.md").write_text("no frontmatter at all")
    (root / ".hidden.md").write_text("---\ntitle: H\n---\nnope\n")
    (root / "ignored.txt").write_text("not markdown")
    sub = root / "sub"
    sub.mkdir()
    (sub / "note3.md").write_text("---\ntitle: Third\n---\nnested body\n")

    docs = docs_from_markdown_files(spark, str(root)).collect()
    titles = sorted(r["title"] for r in docs)
    # broken (no frontmatter) skipped, dotfile skipped, .txt skipped
    assert titles == ["First", "Second", "Third"]
    by_title = {r["title"]: r for r in docs}
    assert by_title["First"]["tags"] == ["vim"]
    assert by_title["Second"]["authors"] == ["ada"]
    assert by_title["Second"]["date"] == 12345


def test_postings_scan_is_partition_pruned(spark):
    import os
    idx = "/root/repo/_idx_cache/sf0.001_xapian"
    if not os.path.exists(os.path.join(idx, "manifest.json")):
        pytest.skip("sf0.001 cache index not built")
    s = Searcher(spark, idx)
    s.LOCAL_EVAL_ROWS = 0  # the distributed path, which scans in Spark
    df = s.query_df("sort ", k=10, prune="never")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # bucket partition pruning must reach the postings scan (exact
    # rendering differs between the join path and the merge kernel)
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "bucket" in pf[1].split("]")[0]
    # positions column must not be read for a non-positional query
    assert "positions" not in plan.split("Location")[0]


def test_dict_scan_is_partition_pruned(spark, code_df, tmp_path_factory):
    """Format v4 (VERDICT r02 #7): the dictionary is partitioned by the
    term's first byte, so BOTH exact lookups and wildcard prefix scans
    show a tpfx PartitionFilter — a prefix scan no longer reads every
    dictionary directory (the old crc32 bucket scheme could never prune
    wildcards: the bucket hashes the whole term)."""
    from mdq_spark.ingest import docs_from_code_table
    out = str(tmp_path_factory.mktemp("dictprune"))
    docs_df = docs_from_code_table(spark, code_df)
    build_index(spark, docs_df, out, block_span=4, n_buckets=8)
    s = Searcher(spark, out)

    def partition_filters(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters: [", 1)
        assert len(pf) == 2, plan
        return pf[1].split("]")[0]

    # wildcard prefix scan prunes on the pattern's first char
    wild = s._dict_scan([], ["mer"])
    assert "tpfx" in partition_filters(wild)
    # exact lookup prunes on the terms' first chars
    exact = s._dict_scan(["merge", "sort"], [])
    assert "tpfx" in partition_filters(exact)
    # and the pruned scans return the right rows
    assert {r["term"] for r in wild.collect()} >= {"merge"}
    assert {r["term"] for r in exact.collect()} == {"merge", "sort"}


def test_fetch_returns_forward_store_rows(spark, code_df,
                                         tmp_path_factory):
    """fetch is the winners joined with the forward store: the rows of
    every column projection equal a Spark join of the winners with
    ``docs``, in rank order, and fetching a driver-evaluated result
    runs no Spark job."""
    from conftest import count_spark_jobs
    from mdq_spark.ingest import docs_from_code_table
    out = str(tmp_path_factory.mktemp("fetch"))
    build_index(spark, docs_from_code_table(spark, code_df), out,
                block_span=4, n_buckets=8)
    s = Searcher(spark, out)
    local = s.query_df("merge OR sort", k=3)
    spark_ranked = s.query_df("merge OR sort", k=3,
                              filters=F.col("fullpath").isNotNull())
    for res in (local, spark_ranked):
        joined = res.join(s.docs, "doc_id")
        for ser in [None, *Searcher.SERIALIZATIONS]:
            cols = list(dict.fromkeys(
                (Searcher.SERIALIZATIONS[ser] if ser else
                 ["doc_id", "fullpath", "title"]) + ["score"]))
            got, n = count_spark_jobs(
                spark, lambda: s.fetch(res, serialization=ser).collect())
            want = joined.select(*cols).orderBy(
                F.desc("score"), F.asc("doc_id")).collect()
            assert len(want) == 3
            assert [r.asDict() for r in got] == \
                [r.asDict() for r in want], ser
            if res is local:
                assert n == 0, ser

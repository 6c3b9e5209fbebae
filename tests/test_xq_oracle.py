"""Xapian-mode DuckDB oracle (VERDICT r03 #1).

Two guarantees:

1. the pure-Python term-rows export IS the engine's own tokenization —
   row-for-row identical to the postings a real Spark index build
   writes (same doc ids, terms, wdf, decoded positions);
2. the plan->SQL compiler re-derives the full query chain downstream of
   tokenization (stats, BM25, wildcards, booleans, positional checks)
   such that DuckDB's answer hash-matches the distributed engine's for
   the driver entries AND a wider operator battery.
"""

import os

import duckdb
import pytest

pytestmark = pytest.mark.spark

SF_DIR = "/root/testdata/sf0.001"


def _export_part(nd: int) -> str:
    """The export parquet for SF_DIR under the (nd, dg) layout.  Note
    the nd partition alone is ambiguous BY DESIGN: sf0.001 and sf0.01
    both hold 500 document rows, the exact collision the dg content
    digest resolves (ADVICE r04) — select by the meta's source path."""
    import glob
    import json
    from mdq_spark.xq_oracle import termrows_root
    src = os.path.abspath(os.path.join(SF_DIR, "documents.parquet"))
    parts = []
    for m in glob.glob(os.path.join(
            termrows_root(), f"nd={nd}", "dg=*", "meta.json")):
        with open(m) as f:
            if json.load(f).get("src") == src:
                parts.append(os.path.join(
                    os.path.dirname(m), "part-00000.parquet"))
    assert len(parts) == 1, parts
    return parts[0]


@pytest.fixture(scope="module")
def termrows_nd():
    from mdq_spark.xq_oracle import ensure_termrows
    nd = ensure_termrows(SF_DIR)
    assert nd is not None
    return nd


@pytest.fixture(scope="module")
def xq_searcher(spark):
    from mdq_spark.entry_queries import ensure_index
    return ensure_index(spark, SF_DIR, "xapian")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute("CREATE VIEW documents AS SELECT * FROM "
              f"'{SF_DIR}/documents.parquet'")
    return c


def test_termrows_match_engine_staging(spark, xq_searcher, termrows_nd):
    """The exported parquet equals what the build kernel indexed: the
    same (doc_id, term) -> (wdf, positions) map as the decoded
    ``postings/`` runs the engine's positional operators read."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from mdq_spark.codec import (
        decode_doc_gaps, decode_positions, varint_decode,
    )

    exp_tbl = pq.read_table(_export_part(termrows_nd))
    exported = {}
    for did, term, wdf, pos in zip(
            exp_tbl.column("doc_id").to_pylist(),
            exp_tbl.column("term").to_pylist(),
            exp_tbl.column("wdf").to_pylist(),
            exp_tbl.column("positions").to_pylist()):
        exported[(did, term)] = (wdf, tuple(pos) if pos is not None
                                 else None)

    indexed = {}
    rows = (spark.read.parquet(f"{xq_searcher.dir}/postings")
            .filter(F.col("gen") == 0)
            .select("term", "n", "doc_gaps", "wdfs", "positions")
            .collect())
    for r in rows:
        n = int(r["n"])
        ids = decode_doc_gaps(bytes(r["doc_gaps"]), n)
        wdfs = varint_decode(bytes(r["wdfs"]), n)
        pls = decode_positions(bytes(r["positions"]), n) \
            if r["positions"] is not None else [()] * n
        for d, w, p in zip(ids, wdfs, pls):
            indexed[(int(d), r["term"])] = (
                int(w), tuple(int(x) for x in p) or None)

    assert len(exported) == len(indexed)
    assert exported == indexed


def test_entry_queries_hash_match(spark, con, termrows_nd):
    """Every registered xq_* driver entry: Spark result == DuckDB
    oracle (rounded values, order-insensitive) — what CORRECTNESS
    checks."""
    import __spark_entry__ as entry
    from mdq_spark.entry_queries import XQ_QUERIES
    qs, osql = entry.queries(), entry.oracle_sql()
    for name in XQ_QUERIES:
        srows = sorted((r["doc_id"], r["score"])
                       for r in qs[name](spark, SF_DIR).collect())
        drows = sorted((int(a), float(b)) for a, b in
                       con.execute(osql[name]).fetchall())
        assert srows == drows, name


WIDER_QUERIES = [
    "sort NEAR merge",         # NEAR via the outer operator split
    "sort FILTER merge",       # FILTER
    "sort XOR merge",          # XOR
    "fast SCALED 2",           # SCALED over the partial pair
    "tag:en AND NOT sort",     # prefix-term left, boolean chain
    '"the fast slow" ',        # 3-term phrase (chained join)
    "sor* merge",              # explicit trailing-* wildcard
    "NOT sort AND fast",       # PURE_NOT -> MatchAll AND_NOT
    "sort ELITE merge",        # ELITE <= 10 children == OR
    '"the fast" AND NOT slow',  # positional leaf inside a boolean tree
    '"the fast" AND MAYBE slow',
]


@pytest.mark.parametrize("q", WIDER_QUERIES)
def test_wider_operator_battery(spark, xq_searcher, con, termrows_nd, q):
    """Beyond the driver entries: every compiler-supported operator
    shape agrees with the engine at 4-decimal rounding."""
    from pyspark.sql import functions as F
    from mdq_spark.xq_oracle import xq_oracle_sql
    sdf = (xq_searcher.query_df(q, k=10)
           .select((F.col("doc_id") - 1).alias("doc_id"),
                   F.round("score", 4).alias("score")))
    srows = sorted((int(r["doc_id"]), float(r["score"]))
                   for r in sdf.collect())
    drows = sorted((int(a), float(b)) for a, b in
                   con.execute(xq_oracle_sql(q)).fetchall())
    assert srows == drows, q


def test_export_idempotent(termrows_nd):
    """A second ensure is a no-op (meta fingerprint short-circuit)."""
    from mdq_spark.xq_oracle import ensure_termrows
    part = _export_part(termrows_nd)
    before = os.path.getmtime(part)
    assert ensure_termrows(SF_DIR) == termrows_nd
    assert os.path.getmtime(part) == before


def test_cjk_entries_hash_match(spark, con):
    """The FLAG_CJK_NGRAM gate entries (xq_cjk, xq_cjk_phrase): the
    Spark engine over the cjk_augment()ed corpus indexed with
    cjk_ngram=True == DuckDB over the matching term-rows export (the
    cjk=True variant), same rounding/ordering contract as the other
    entries.  Also asserts the queries are non-degenerate (both return
    a full top-10 with varied scores at sf0.001)."""
    import __spark_entry__ as entry
    from mdq_spark.entry_queries import XQ_CJK_QUERIES
    from mdq_spark.xq_oracle import ensure_termrows
    assert ensure_termrows(SF_DIR, cjk=True) is not None
    qs, osql = entry.queries(), entry.oracle_sql()
    for name in XQ_CJK_QUERIES:
        srows = sorted((r["doc_id"], r["score"])
                       for r in qs[name](spark, SF_DIR).collect())
        drows = sorted((int(a), float(b)) for a, b in
                       con.execute(osql[name]).fetchall())
        assert srows == drows, name
        assert len(srows) == 10, name
        assert len({s for _, s in srows}) > 3, name

"""ESet / relevance-feedback expansion (omenquire.cc:609-654).

Three-way agreement: the distributed engine (mdq_spark/eset.py), the
DuckDB oracle (xq_oracle.eset_oracle_sql), and a pure-Python recompute
from the term-rows export must produce identical (term, weight) sets
for both weighting schemes; plus API edge cases (empty rset, strict
min_wt, query-term decider) and a plan-shape assertion (broadcast
candidate join, no cartesian).
"""

import math
import os

import duckdb
import pytest

from conftest import count_spark_jobs

pytestmark = pytest.mark.spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def xq_searcher(spark):
    from mdq_spark.entry_queries import ensure_index
    from mdq_spark.xq_oracle import ensure_termrows
    ensure_termrows(SF_DIR)
    return ensure_index(spark, SF_DIR, "xapian")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{SF_DIR}/documents.parquet')")
    return c


def _engine(searcher, rset, maxitems, scheme, **kw):
    df = searcher.get_eset(rset, maxitems=maxitems, scheme=scheme, **kw)
    return sorted((r["term"], round(r["wt"], 4)) for r in df.collect())


def _oracle(con, rset, maxitems, scheme, exclude=None):
    from mdq_spark.xq_oracle import eset_oracle_sql
    sql = eset_oracle_sql(rset, maxitems, scheme, exclude_terms=exclude)
    return sorted((t, float(w)) for t, w in con.execute(sql).fetchall())


def test_eset_trad_matches_duckdb(spark, xq_searcher, con):
    got = _engine(xq_searcher, [1, 2, 3, 4, 5], 20, "trad",
                  query="sort merge")
    from mdq_spark.eset import query_exclude_terms
    want = _oracle(con, [1, 2, 3, 4, 5], 20, "trad",
                   exclude=query_exclude_terms("sort merge"))
    assert got == want
    assert len(got) == 20


def test_eset_bo1_matches_duckdb(spark, xq_searcher, con):
    got = _engine(xq_searcher, [2, 4, 6, 8], 15, "bo1")
    want = _oracle(con, [2, 4, 6, 8], 15, "bo1")
    assert got == want
    assert len(got) == 15


def _py_corpus():
    """(term->wdf per doc, doclen per doc) straight from tokenize."""
    from mdq_spark.corpus import doc_from_documents_row
    from mdq_spark.tokenize import document_term_rows
    import pyarrow.parquet as pq
    tbl = pq.read_table(os.path.join(SF_DIR, "documents.parquet"),
                        columns=["doc_id", "text", "lang", "source"])
    rows, doclen = {}, {}
    for did, text, lang, source in zip(*(tbl.column(c).to_pylist()
                                         for c in ("doc_id", "text",
                                                   "lang", "source"))):
        doc = doc_from_documents_row(did, text, lang, source)
        agg, dl = document_term_rows(doc)
        rows[doc["doc_id"]] = {t: e[0] for t, e in agg.items()}
        doclen[doc["doc_id"]] = dl
    return rows, doclen


def _py_eset(rows, doclen, rset, maxitems, scheme, expand_k=1.0,
             min_wt=0.0):
    """Brute-force recompute of tradeweight.cc / bo1eweight.cc over
    the tokenize output (no Spark, no SQL)."""
    N = len(rows)
    avlen = sum(doclen.values()) / N
    df: dict = {}
    cf: dict = {}
    for tmap in rows.values():
        for t, w in tmap.items():
            df[t] = df.get(t, 0) + 1
            cf[t] = cf.get(t, 0) + w
    R = float(len(rset))
    stats: dict = {}
    for d in rset:
        for t, wdf in rows[d].items():
            wdf0 = max(wdf, 1)
            r, rcf, mult = stats.get(t, (0.0, 0.0, 0.0))
            stats[t] = (r + 1.0, rcf + wdf0,
                        mult + (expand_k + 1.0) * wdf0
                        / (expand_k * doclen[d] / avlen + wdf0))
    exp = {}
    for t, (r, rcf, mult) in stats.items():
        if scheme == "trad":
            n = df[t]
            tw = math.log((r + 0.5) * (N - n - (R - r) + 0.5)
                          / ((n - r + 0.5) * ((R - r) + 0.5)))
            wt = mult * tw
        else:
            m = cf[t] / N
            wt = rcf * math.log2((1 + m) / m) + math.log2(1 + m)
        if wt > min_wt:
            exp[t] = wt
    want = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:maxitems]
    return sorted((t, round(w, 4)) for t, w in want)


RSETS = [
    [7],
    [1, 250, 499],
    list(range(10, 27)),
    list(range(1, 101, 3)),
]


@pytest.mark.parametrize("rset", RSETS)
@pytest.mark.parametrize("scheme,k", [("trad", 1.0), ("trad", 0.35),
                                      ("bo1", 1.0)])
def test_eset_pure_python_battery(spark, xq_searcher, rset, scheme, k):
    """Independent brute-force recompute straight from tokenize output
    across varied rset shapes, both schemes, and a non-default
    expand_k (Enquire::set_expansion_scheme's knob)."""
    rows, doclen = _py_corpus()
    want = _py_eset(rows, doclen, rset, 12, scheme, expand_k=k)
    got = _engine(xq_searcher, rset, 12, scheme, expand_k=k)
    assert got == want


def test_eset_empty_rset_and_zero_maxitems(spark, xq_searcher):
    """No rows, and no Spark job from the call to the collect."""
    for rset, maxitems in (([], 10), ([1, 2], 0)):
        rows, jobs = count_spark_jobs(spark, lambda: xq_searcher.get_eset(
            rset, maxitems=maxitems).collect())
        assert (rows, jobs) == ([], 0), (rset, maxitems)


def test_eset_min_wt_strict(spark, xq_searcher):
    """esetinternal.cc:186 skips wt <= min_wt: raising the floor to the
    best weight must drop that term too (strict inequality)."""
    top = xq_searcher.get_eset([1, 2, 3], maxitems=1).collect()[0]
    rows = xq_searcher.get_eset([1, 2, 3], maxitems=5,
                                min_wt=float(top["wt"])).collect()
    assert all(r["wt"] > top["wt"] for r in rows)
    assert top["term"] not in {r["term"] for r in rows}


def test_eset_query_decider(spark, xq_searcher):
    """INCLUDE_QUERY_TERMS off (default): the parsed query's terms
    never appear; on: they may."""
    from mdq_spark.eset import query_exclude_terms
    excl = set(query_exclude_terms("sort merge"))
    assert excl  # Z-stemmed query terms
    terms = {r["term"] for r in xq_searcher.get_eset(
        [1, 2, 3, 4, 5], maxitems=200, query="sort merge").collect()}
    assert not (terms & excl)
    terms_inc = {r["term"] for r in xq_searcher.get_eset(
        [1, 2, 3, 4, 5], maxitems=200, query="sort merge",
        include_query_terms=True).collect()}
    assert terms_inc & excl


def test_eset_plan_shape(spark, xq_searcher):
    """Scale shape: the dictionary side joins the small candidate
    aggregate as a broadcast build (no dict shuffle), and nothing in
    the plan is a cartesian product."""
    df = xq_searcher.get_eset([1, 2, 3], maxitems=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_eset_driver_entries_hash_match(spark, con):
    """The registered driver entries agree with their oracle SQL
    exactly as CORRECTNESS will compare them."""
    import __spark_entry__ as entry
    qs, osql = entry.queries(), entry.oracle_sql()
    for name in ("xq_eset_trad", "xq_eset_bo1", "xq_matching_terms"):
        srows = sorted(tuple(r) for r in qs[name](spark, SF_DIR).collect())
        drows = sorted(tuple(r) for r in con.execute(osql[name]).fetchall())
        assert srows == drows and srows, name


def test_matching_terms(spark, xq_searcher, con):
    """get_matching_terms: intersection with the query's term map,
    ordered by first occurrence in the query (duplicate query terms
    keep their first index — omenquire.cc:696-698)."""
    rows = xq_searcher.get_matching_terms(
        "merge sort merge fast", 1).collect()
    assert rows, "doc 1 shares no terms with the query?"
    # ordered by query position; Zmerg (first occurrence) before Zsort
    idx = [r["qindex"] for r in rows]
    assert idx == sorted(idx)
    terms = [r["term"] for r in rows]
    if "Zmerg" in terms and "Zsort" in terms:
        assert terms.index("Zmerg") < terms.index("Zsort")
    # doc with no query terms -> empty
    from mdq_spark.xq_oracle import matching_terms_oracle_sql
    want = con.execute(matching_terms_oracle_sql(
        "merge sort merge fast", 1)).fetchall()
    assert sorted(tuple(r) for r in rows) == sorted(tuple(r) for r in want)
    assert xq_searcher.get_matching_terms("xyzzynotaterm", 1).count() == 0

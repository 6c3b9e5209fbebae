"""Upsert parity: after a batch upsert (replace + add, keyed by
fullpath like the reference's Q-term identity), search results must
equal a from-scratch oracle build of the final corpus."""

import pytest

from conftest import assert_results_match, count_spark_jobs
from mdq_spark.build import DOCS_SCHEMA, build_index
from mdq_spark.oracle import OracleIndex
from mdq_spark.search import Searcher
from mdq_spark.upsert import compact, upsert

pytestmark = pytest.mark.spark


def doc(doc_id, fullpath, body, tags=()):
    import hashlib
    return dict(doc_id=doc_id, fullpath=fullpath, title="t",
                subtitle="", authors=[], date=0, tags=list(tags),
                weight=0, writes=0, views=0, body=body,
                sha256=hashlib.sha256(body.encode()).hexdigest())


V1 = [
    doc(1, "a.md", "alpha beta gamma"),
    doc(2, "b.md", "beta gamma delta"),
    doc(3, "c.md", "gamma delta epsilon"),
    doc(4, "d.md", "unrelated words entirely"),
]

# replaces b.md and c.md, adds e.md
BATCH = [
    doc(0, "b.md", "beta beta zeta"),
    doc(0, "c.md", "completely new text"),
    doc(0, "e.md", "alpha zeta omega"),
]

# the corpus a fresh rebuild would see (ids: survivors keep, new get 5..)
FINAL = [
    V1[0],
    V1[3],
    {**doc(5, "b.md", "beta beta zeta")},
    {**doc(6, "c.md", "completely new text")},
    {**doc(7, "e.md", "alpha zeta omega")},
]

QUERIES = ["alpha ", "beta ", "gamma ", "zeta ", "alpha OR zeta",
           "beta AND NOT gamma", "gam", "NOT beta AND words"]


@pytest.fixture(scope="module")
def upserted(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ups"))
    df = spark.createDataFrame(V1, schema=DOCS_SCHEMA)
    build_index(spark, df, out, block_span=4, n_buckets=8)
    batch = spark.createDataFrame(BATCH, schema=DOCS_SCHEMA)
    manifest = upsert(spark, out, batch)
    return out, manifest


@pytest.fixture(scope="module")
def oracle_final():
    return OracleIndex.build(FINAL)


def test_manifest_generation(upserted):
    _, m = upserted
    assert m["generation"] == 1
    assert m["next_doc_id"] == 8
    assert m["upserts"][0]["n_new"] == 3


def test_globalstats_exact(upserted, oracle_final):
    _, m = upserted
    assert int(m["globalstats"]["n_docs"]) == oracle_final.N
    assert m["globalstats"]["avg_doclen"] == pytest.approx(
        oracle_final.avg_doclen)


@pytest.mark.parametrize("q", QUERIES)
def test_upsert_query_parity(spark, upserted, oracle_final, q):
    s = Searcher(spark, upserted[0])
    assert_results_match(oracle_final.search(q), s.search(q))


def test_replaced_doc_not_returned(spark, upserted):
    s = Searcher(spark, upserted[0])
    # old b.md (doc 2) contained 'delta'; new b.md doesn't
    hits = {d for d, _ in s.search("delta ")}
    assert 2 not in hits and 5 not in hits
    assert 3 not in hits  # old c.md replaced too


def test_driver_path_over_tombstones_runs_no_spark_job(
        spark, upserted, oracle_final):
    """Over tombstones and dict deltas, a compiled plan under the
    volume check still runs no Spark job from dictionary probe to
    fetch, and answers like a rebuild of the live corpus."""
    s = Searcher(spark, upserted[0])
    assert s.tombstones is not None and s.dict_delta is not None
    compiled = [q for q in QUERIES if not q.startswith("NOT ")]  # MatchAll
    for q in compiled + ['"beta zeta" ', "alpha AND MAYBE zeta"]:
        rows, n = count_spark_jobs(
            spark, lambda: s.fetch(s.query_df(q, k=10)).collect())
        assert n == 0, q
        assert_results_match(oracle_final.search(q, k=10),
                             [(r["doc_id"], r["score"]) for r in rows])


def test_second_upsert(spark, upserted, oracle_final):
    out, _ = upserted
    batch2 = [doc(0, "e.md", "omega omega psi")]
    m2 = upsert(spark, out, spark.createDataFrame(
        batch2, schema=DOCS_SCHEMA))
    assert m2["generation"] == 2
    final2 = [d for d in FINAL if d["fullpath"] != "e.md"] + \
        [doc(8, "e.md", "omega omega psi")]
    oracle2 = OracleIndex.build(final2)
    s = Searcher(spark, out)
    for q in ["omega ", "alpha ", "psi OR zeta"]:
        assert_results_match(oracle2.search(q), s.search(q))


def test_compact_equals_upserted(spark, upserted, tmp_path_factory):
    out, _ = upserted
    s_before = Searcher(spark, out)
    expected = {q: s_before.search(q) for q in ["omega ", "beta "]}
    cout = str(tmp_path_factory.mktemp("compact"))
    compact(spark, out, cout)
    s_after = Searcher(spark, cout)
    for q, exp in expected.items():
        assert_results_match(exp, s_after.search(q))


@pytest.mark.parametrize("q", ["beta OR zeta", "alpha OR omega", "gamma "])
def test_blockmax_prune_identical_after_upsert(spark, upserted, q):
    """ADVICE r01 (high): upserts append duplicate (term, block) rows
    when fresh ids start mid-block, and shift avg_doclen away from the
    stored build-time bounds.  Pruning must still be exact."""
    s = Searcher(spark, upserted[0])
    # the fixture really does produce the duplicate-row condition
    from pyspark.sql import functions as F
    dups = (s.postings.groupBy("term", "block")
            .count().filter(F.col("count") > 1).count())
    assert dups > 0, "fixture no longer exercises duplicate (term,block)"
    plain = s.query_df(q, k=3, prune="never").collect()
    pruned = s.query_df(q, k=3, prune="always").collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in plain] == \
           [(r["doc_id"], round(r["score"], 9)) for r in pruned]


def test_crashed_upsert_invisible_then_retry(spark, tmp_path_factory):
    """ADVICE r01 (medium): a crash mid-upsert must not change what a
    Searcher sees (visibility is gated on the manifest commit), and a
    retry must converge to the fresh-rebuild state without
    double-counting the orphan rows."""
    import json
    import os
    out = str(tmp_path_factory.mktemp("crash"))
    df = spark.createDataFrame(V1, schema=DOCS_SCHEMA)
    build_index(spark, df, out, block_span=4, n_buckets=8)
    before = Searcher(spark, out)
    pre = {q: before.search(q) for q in ["alpha ", "beta ", "delta "]}
    with open(os.path.join(out, "manifest.json")) as f:
        pre_manifest = f.read()

    # run the full upsert, then roll the manifest back — byte-identical
    # to a crash at any point before the commit line
    batch = spark.createDataFrame(BATCH, schema=DOCS_SCHEMA)
    upsert(spark, out, batch)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        f.write(pre_manifest)

    crashed = Searcher(spark, out)
    for q, exp in pre.items():
        assert_results_match(exp, crashed.search(q))
    # replaced docs still findable, new docs invisible
    assert {d for d, _ in crashed.search("delta ")} == {2, 3}
    assert crashed.search("zeta ") == []

    # retry: allocates a gen past the orphan, results = fresh rebuild
    m2 = upsert(spark, out, batch)
    assert m2["generation"] == 2  # orphan gen 1 skipped
    assert 1 not in m2["committed_gens"]
    retried = Searcher(spark, out)
    oracle = OracleIndex.build(FINAL)
    for q in QUERIES:
        assert_results_match(oracle.search(q), retried.search(q))
    # and global stats were not double-counted
    assert int(m2["globalstats"]["n_docs"]) == oracle.N
    assert m2["globalstats"]["avg_doclen"] == pytest.approx(
        oracle.avg_doclen)


def test_fold_dict_deltas(spark, tmp_path_factory):
    """fold_dict_deltas must leave results identical (it only moves the
    delta merge from query time into the dictionary) and clear the
    delta dir."""
    import os
    from mdq_spark.upsert import fold_dict_deltas
    out = str(tmp_path_factory.mktemp("fold"))
    df = spark.createDataFrame(V1, schema=DOCS_SCHEMA)
    build_index(spark, df, out, block_span=4, n_buckets=8)
    upsert(spark, out, spark.createDataFrame(BATCH, schema=DOCS_SCHEMA))
    before = Searcher(spark, out)
    pre = {q: before.search(q) for q in QUERIES}
    fold_dict_deltas(spark, out)
    assert not os.path.exists(os.path.join(out, "dict_delta"))
    after = Searcher(spark, out)
    assert after.dict_delta is None
    for q, exp in pre.items():
        assert_results_match(exp, after.search(q))
    # still equals a fresh-rebuild oracle of the final corpus
    oracle = OracleIndex.build(FINAL)
    for q in QUERIES:
        assert_results_match(oracle.search(q), after.search(q))
    # and a subsequent upsert over the folded dictionary stays exact
    m2 = upsert(spark, out, spark.createDataFrame(
        [doc(0, "e.md", "omega omega psi")], schema=DOCS_SCHEMA))
    final2 = [d for d in FINAL if d["fullpath"] != "e.md"] + \
        [doc(8, "e.md", "omega omega psi")]
    oracle2 = OracleIndex.build(final2)
    s2 = Searcher(spark, out)
    for q in ["omega ", "alpha ", "psi OR zeta", "zeta "]:
        assert_results_match(oracle2.search(q), s2.search(q))


@pytest.mark.parametrize("q", ['"beta gamma" ', '"beta beta" ',
                               "beta NEAR gamma", '"gamma delta" '])
def test_positional_parity_after_upsert(spark, upserted, oracle_final, q):
    """VERDICT r02 #3 (lazy survivor-only positions decode): the
    multi-run path — upsert appends interleave doc-id ranges, so the
    merge kernel concatenates + reorders runs (perm != None) before the
    position-window check."""
    s = Searcher(spark, upserted[0])
    assert_results_match(oracle_final.search(q), s.search(q))


def test_build_resume_on_upserted_index_rebuilds(spark, tmp_path_factory):
    """ADVICE r02 (medium): re-running build_index over an index with
    committed upserts must NOT resume (resume would rewrite the manifest
    with committed_gens=[0], hiding every upserted generation and
    resurrecting tombstoned docs).  It must force a full rebuild from
    the given docs instead."""
    out = str(tmp_path_factory.mktemp("rebuild"))
    df = spark.createDataFrame(V1, schema=DOCS_SCHEMA)
    build_index(spark, df, out, block_span=4, n_buckets=8)
    upsert(spark, out, spark.createDataFrame(BATCH, schema=DOCS_SCHEMA))
    # re-run the build with the original corpus: a silent resume would
    # leave gen-1 rows in the artifacts and stale upsert state visible
    m = build_index(spark, df, out, block_span=4, n_buckets=8)
    assert m["generation"] == 0 and m["committed_gens"] == [0]
    s = Searcher(spark, out)
    oracle_v1 = OracleIndex.build(V1)
    for q in QUERIES:
        assert_results_match(oracle_v1.search(q), s.search(q))
    # the stats describe V1, not the upserted corpus
    assert int(m["globalstats"]["n_docs"]) == oracle_v1.N


def test_compact_swap_crash_recovery(spark, tmp_path_factory):
    """ADVICE r02: a crash BETWEEN compact_in_place's two renames leaves
    no index dir — the next open must roll the swap forward from the
    complete .compact_tmp (or back from .compact_old)."""
    import os
    import shutil
    out = str(tmp_path_factory.mktemp("swapcrash")) + "/idx"
    df = spark.createDataFrame(V1, schema=DOCS_SCHEMA)
    build_index(spark, df, out, block_span=4, n_buckets=8)
    upsert(spark, out, spark.createDataFrame(BATCH, schema=DOCS_SCHEMA))
    expected = Searcher(spark, out).search("beta ")

    # simulate the exact mid-swap state: compact() finished into tmp,
    # index_dir renamed away, second rename never happened
    from mdq_spark.upsert import compact
    compact(spark, out, out + ".compact_tmp")
    os.rename(out, out + ".compact_old")
    assert not os.path.exists(out)

    s = Searcher(spark, out)  # auto-recovers (rolls forward)
    assert_results_match(expected, s.search("beta "))
    assert os.path.exists(os.path.join(out, "manifest.json"))
    shutil.rmtree(out + ".compact_old", ignore_errors=True)

    # roll-back path: only the old dir survives
    os.rename(out, out + ".compact_old")
    s2 = Searcher(spark, out)
    assert_results_match(expected, s2.search("beta "))


def test_fold_crash_leaves_deltas_unapplied_twice(spark, tmp_path_factory):
    """ADVICE r02: fold_dict_deltas commits via an atomic manifest
    pointer; if a crash leaves the (already folded) dict_delta dir on
    disk, readers must NOT apply those deltas a second time."""
    import os
    import shutil
    from mdq_spark.upsert import fold_dict_deltas
    out = str(tmp_path_factory.mktemp("foldcrash"))
    df = spark.createDataFrame(V1, schema=DOCS_SCHEMA)
    build_index(spark, df, out, block_span=4, n_buckets=8)
    upsert(spark, out, spark.createDataFrame(BATCH, schema=DOCS_SCHEMA))
    delta_dir = os.path.join(out, "dict_delta")
    saved = os.path.join(out, "_delta_copy")
    shutil.copytree(delta_dir, saved)
    fold_dict_deltas(spark, out)
    # crash simulation: the folded deltas re-appear on disk
    shutil.copytree(saved, delta_dir)
    shutil.rmtree(saved)
    s = Searcher(spark, out)
    oracle = OracleIndex.build(FINAL)
    for q in QUERIES:
        assert_results_match(oracle.search(q), s.search(q))


def test_suggest_never_writes_from_query_path(spark, tmp_path_factory):
    """ADVICE r02: suggest() on an index without a spelling table must
    fall back to an on-the-fly dictionary scan — no distributed write
    from the read path (works on a read-only mount, no overwrite
    races).  batch_suggest must agree with per-word suggest."""
    import os
    from mdq_spark.spell import build_spelling
    out = str(tmp_path_factory.mktemp("spellro"))
    df = spark.createDataFrame(V1, schema=DOCS_SCHEMA)
    build_index(spark, df, out, block_span=4, n_buckets=8)
    s = Searcher(spark, out)
    words = ["alpa", "gamm", "beta", "zzzzq"]
    got = {w: s.suggest(w) for w in words}
    assert got["alpa"] == "alpha" and got["gamm"] == "gamma"
    assert got["beta"] == "" and got["zzzzq"] == ""
    # the fallback never materialized a table
    assert not any(d.startswith("spelling") for d in os.listdir(out))
    # explicit build (maintenance op) publishes atomically; answers and
    # the batch API agree with the fallback
    build_spelling(s)
    assert os.path.exists(os.path.join(out, "spelling_meta.json"))
    s2 = Searcher(spark, out)
    assert s2.batch_suggest(words) == got


def test_auto_compact_folds_tombstones(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("autoc"))
    df = spark.createDataFrame(V1, schema=DOCS_SCHEMA)
    build_index(spark, df, out, block_span=4, n_buckets=8)
    batch = spark.createDataFrame(BATCH, schema=DOCS_SCHEMA)
    m = upsert(spark, out, batch, auto_compact_ratio=0.25)
    # 2 tombstones / 7 docs = 0.286 >= 0.25 -> compacted in place
    assert m["generation"] == 0 and m["committed_gens"] == [0]
    import os
    assert not os.path.exists(os.path.join(out, "tombstones"))
    s = Searcher(spark, out)
    oracle = OracleIndex.build(FINAL)
    for q in QUERIES:
        assert_results_match(oracle.search(q), s.search(q))


def test_eset_parity_after_upsert(spark, tmp_path_factory):
    """get_eset / get_matching_terms over an upserted index must equal
    the same calls over a from-scratch build of the final corpus: the
    forward-termlist read honors committed gens + tombstones, and the
    dict stats fold the tombstone deltas (mdq_spark/eset.py).

    Builds its own index: the module's ``upserted`` fixture is mutated
    again by test_second_upsert, so it is not FINAL-shaped here."""
    out = str(tmp_path_factory.mktemp("eset_ups"))
    build_index(spark, spark.createDataFrame(V1, schema=DOCS_SCHEMA),
                out, block_span=4, n_buckets=8)
    upsert(spark, out, spark.createDataFrame(BATCH, schema=DOCS_SCHEMA))
    fresh = str(tmp_path_factory.mktemp("eset_fresh"))
    build_index(spark, spark.createDataFrame(FINAL, schema=DOCS_SCHEMA),
                fresh, block_span=4, n_buckets=8)
    s_up, s_fr = Searcher(spark, out), Searcher(spark, fresh)
    rset = [1, 5, 7]
    for scheme in ("trad", "bo1"):
        got = [(r["term"], round(r["wt"], 9)) for r in
               s_up.get_eset(rset, maxitems=30, scheme=scheme,
                             query="beta").collect()]
        want = [(r["term"], round(r["wt"], 9)) for r in
                s_fr.get_eset(rset, maxitems=30, scheme=scheme,
                              query="beta").collect()]
        assert got == want and got, scheme
    gm = [tuple(r) for r in
          s_up.get_matching_terms("zeta alpha", 7).collect()]
    fm = [tuple(r) for r in
          s_fr.get_matching_terms("zeta alpha", 7).collect()]
    assert gm == fm and gm


def test_build_manifest_write_is_atomic(spark, tmp_path_factory,
                                        monkeypatch):
    """The fresh build commits its manifest by tmp + rename: a write
    that fails half way through a forced rebuild leaves the previous
    manifest intact, never a truncated one."""
    import json
    import os
    out = str(tmp_path_factory.mktemp("atomic"))
    df = spark.createDataFrame(V1, schema=DOCS_SCHEMA)
    build_index(spark, df, out, block_span=4, n_buckets=8)
    path = os.path.join(out, "manifest.json")
    with open(path) as f:
        before = json.load(f)

    def torn_dump(obj, fp, **kw):
        fp.write('{"format_version": ')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        build_index(spark, df, out, block_span=4, n_buckets=8, force=True)
    monkeypatch.undo()
    with open(path) as f:
        assert json.load(f) == before

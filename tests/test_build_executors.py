"""The build's two executors: the driver executor (stage kernels
in-process on pyarrow) and the Spark executor must write the same index,
through a fresh build, an upsert (the same stages as a later
generation), a compaction and a resume."""

import glob
import json
import os
import shutil

import pytest

from conftest import count_spark_jobs, local_docs_df, shuffle_write_records
from mdq_spark import build as B
from mdq_spark.build import (
    IndexBuilder, build_index, read_index_dir, term_bucket,
)
from mdq_spark.search import Searcher
from mdq_spark.upsert import compact_in_place, fold_dict_deltas, upsert
from test_spark_engine import DOCS, QUERIES, _sha

pytestmark = pytest.mark.spark

ROWS = [{**d, "sha256": _sha(d["body"])} for d in DOCS] + [
    dict(doc_id=11, fullpath="org/e/intl.md", title="émigré notes",
         subtitle="", authors=["zoë"], date=1600036000, tags=["über"],
         weight=0, writes=0, views=0, sha256=_sha("x"),
         body="émigré über ωmega 中文 spark"),
]

UPSERT = [
    dict(doc_id=0, fullpath="org/a/src.md", title="sorting",
         subtitle="", authors=["bob"], date=1600040000, tags=["rust"],
         weight=0, writes=0, views=0, sha256=_sha("y"),
         body="spark sorts nothing now émigré"),
    dict(doc_id=0, fullpath="org/f/new.md", title="new", subtitle="",
         authors=[], date=1600041000, tags=[], weight=0, writes=0,
         views=0, sha256=_sha("z"), body="quick brown spark planner"),
]

KW = dict(block_span=4, n_buckets=8)
# the executor limit that picks each executor for the fixture's inputs
LIMITS = {"driver": IndexBuilder.DRIVER_BUILD_BYTES, "spark": 0}
# Spark jobs a small driver upsert may run: 3 were counted in the tests'
# Spark session, all of them the stages' one ``toArrow`` of the
# fullpath-ordered batch (range sampling, the shuffle and the collect);
# the docs stage numbers the rows in-process, and the tombstones and
# negative dict deltas are pyarrow reads and writes.  The staging path
# it replaced ran 40.
JOBS_PER_DRIVER_UPSERT = 4


def _decoded_postings(rows):
    from mdq_spark.codec import decode_doc_gaps, decode_positions, \
        varint_decode
    out = []
    for r in rows:
        n = int(r["n"])
        ids = decode_doc_gaps(bytes(r["doc_gaps"]), n)
        wdfs = varint_decode(bytes(r["wdfs"]), n)
        dls = varint_decode(bytes(r["doclens"]), n)
        pls = decode_positions(bytes(r["positions"]), n) \
            if r["positions"] is not None else [()] * n
        for i in range(n):
            out.append((r["term"], int(r["bucket"]), int(r["block"]),
                        int(r["gen"]), int(ids[i]), int(wdfs[i]),
                        int(dls[i]), tuple(int(x) for x in pls[i])))
    return sorted(out)


def snapshot(spark, out):
    """Every artifact of the index at ``out`` as order-free rows, read
    through Spark (so both layouts must also read back through it)."""
    with open(os.path.join(out, "manifest.json")) as f:
        m = json.load(f)

    def rows(rel, *cols):
        if not os.path.exists(os.path.join(out, rel)):
            return None
        df = read_index_dir(spark, out, rel, None)
        return sorted(tuple(r) for r in df.select(*cols).collect())

    return {
        "globalstats": m["globalstats"],
        "next_doc_id": m["next_doc_id"],
        "docs": rows("docs", "doc_id", "fullpath", "title", "body", "gen"),
        "dict": rows(m.get("dict_dir", "dict"), "term", "bucket", "df",
                     "cf", "wdf_max", "gen", "tpfx"),
        "postings": _decoded_postings(
            read_index_dir(spark, out, "postings", None).collect()),
        "docstats": rows("docstats", "doc_id", "doclen", "gen"),
        "terms": rows("terms", "term", "bucket", "doc_id", "wdf", "gen"),
        "dict_delta": rows("dict_delta", "term", "bucket", "ddf", "dcf",
                           "gen"),
        "tombstones": rows("tombstones", "doc_id", "gen"),
    }


def answers(spark, out):
    s = Searcher(spark, out)
    return {q: [(r["doc_id"], r["score"])
                for r in s.query_df(q, k=10).collect()] for q in QUERIES}


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    """The fixture corpus built once by each executor."""
    base = tmp_path_factory.mktemp("executors")
    docs = local_docs_df(spark, ROWS)
    drv = str(base / "driver")
    m_drv = build_index(spark, docs, drv, **KW)
    spk = str(base / "spark")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", 0)
        m_spk = build_index(spark, docs, spk, **KW)
    return drv, m_drv, spk, m_spk


def test_executor_recorded_in_manifest(pair):
    _, m_drv, _, m_spk = pair
    for m, executor in ((m_drv, "driver"), (m_spk, "spark")):
        assert m["executor"] == executor
        assert 0 < m["size_estimate_bytes"] <= 1 << 20
        names = [s["stage"] for s in m["stages"]]
        assert names[:2] == ["docs", "partials"]
        assert sorted(names[2:]) == sorted(
            ["terms", "docstats", "globalstats", "dict", "postings"])
        assert all(s["executor"] == executor and
                   s["size_estimate_bytes"] == m["size_estimate_bytes"]
                   for s in m["stages"])
    assert m_drv["metrics"]["n_terms"] == m_spk["metrics"]["n_terms"]
    assert m_drv["metrics"]["n_postings"] == m_spk["metrics"]["n_postings"]


def test_executors_write_equal_indexes(spark, pair):
    drv, _, spk, _ = pair
    for out in (drv, spk):
        assert not os.path.exists(os.path.join(out, "partials"))
    a, b = snapshot(spark, drv), snapshot(spark, spk)
    assert a["docs"] and a["dict"] and a["postings"] and a["terms"]
    assert a == b
    assert answers(spark, drv) == answers(spark, spk)


def test_executors_equal_after_upsert_and_compaction(spark, pair,
                                                      tmp_path, monkeypatch):
    """An upsert runs the build's stages on the executor its batch's
    size picks: the driver for a small Arrow-backed batch, Spark when
    the limit is 0.  Upserts by either executor into an index built by
    either write equal indexes with equal answers, and so do the
    compactions that follow; none of them leaves ``partials/`` behind."""
    drv0, _, spk0, _ = pair
    outs = {}
    for built, src in (("driver", drv0), ("spark", spk0)):
        for executor, limit in LIMITS.items():
            out = str(tmp_path / f"{built}-{executor}")
            shutil.copytree(src, out)
            monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", limit)
            m = upsert(spark, out, local_docs_df(spark, UPSERT))
            assert m["upserts"][-1]["executor"] == executor
            assert not os.path.exists(os.path.join(out, "partials"))
            outs[built, executor] = out
    snaps = [snapshot(spark, out) for out in outs.values()]
    assert snaps[0]["tombstones"] and snaps[0]["dict_delta"]
    assert all(snap == snaps[0] for snap in snaps[1:])
    want = answers(spark, outs["driver", "driver"])
    assert all(answers(spark, out) == want for out in outs.values())

    drv, spk = outs["driver", "spark"], outs["spark", "driver"]
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", LIMITS["driver"])
    m_drv = compact_in_place(spark, drv)
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", LIMITS["spark"])
    m_spk = compact_in_place(spark, spk)
    assert (m_drv["executor"], m_spk["executor"]) == ("driver", "spark")
    for out in (drv, spk):
        assert not os.path.exists(os.path.join(out, "partials"))
    a, b = snapshot(spark, drv), snapshot(spark, spk)
    assert a["tombstones"] is None and a["docs"]
    assert a == b
    assert answers(spark, drv) == answers(spark, spk) == want


# a second batch: it replaces a path the first replaced, and adds one
AGAIN = [dict(UPSERT[0], body="spark sorts everything again"),
         dict(UPSERT[1], fullpath="org/f/newer.md", body="lazy planner")]
# a doc with an empty body: in ``simple`` mode, which tokenizes bodies
# only, it has no term
EMPTY = dict(ROWS[0], doc_id=12, fullpath="org/g/empty.md", body="")


def _live_rows(out):
    """The live docs of the index at ``out``, with their ids."""
    with open(os.path.join(out, "manifest.json")) as f:
        gens = json.load(f)["committed_gens"]
    docs = B._read_table(os.path.join(out, "docs"), None, gens)
    dead = set()
    if os.path.exists(os.path.join(out, "tombstones")):
        dead = set(B._read_table(os.path.join(out, "tombstones"),
                                 ["doc_id"], gens)["doc_id"].to_pylist())
    return sorted((r for r in docs.drop_columns(["gen"]).to_pylist()
                   if r["doc_id"] not in dead), key=lambda r: r["doc_id"])


@pytest.mark.parametrize("mode", ["xapian", "simple"])
@pytest.mark.parametrize("executor", sorted(LIMITS))
def test_compaction_equals_build_of_live_docs(spark, tmp_path, monkeypatch,
                                              executor, mode):
    """Compaction merges the index's own posting runs less the
    tombstoned docs, re-bucketed to the count the live docs' size picks
    (1 here, from 8).  After two upserts, the second replacing a path
    the first already replaced, and again after an upsert of a new path
    only (generations and no tombstone), the compacted index equals a
    build of its live ``docs/`` rows with their ids and answers alike: a
    term only tombstoned docs held leaves the dictionary.  ``xapian``
    mode writes positional runs and null-position (stem) runs;
    ``simple`` mode indexes a doc with no term."""
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", LIMITS[executor])
    out = str(tmp_path / "idx")
    m = build_index(spark, local_docs_df(spark, ROWS + [EMPTY]), out,
                    mode=mode, **KW)
    # upserts number past the last doc, with or without terms
    assert m["next_doc_id"] == EMPTY["doc_id"] + 1
    for batch in (UPSERT, AGAIN):
        upsert(spark, out, local_docs_df(spark, batch))
    before = snapshot(spark, out)
    assert len(before["tombstones"]) == 2
    assert "shuffles" in {r[0] for r in before["dict"]}
    if mode == "xapian":
        nulls = [r for r in read_index_dir(spark, out, "postings", None)
                 .collect() if r["positions"] is None]
        assert nulls and len(nulls) < len(before["postings"])
    pre = before
    for step, batch in (("tombstoned", None),
                        ("gens only", [dict(UPSERT[1],
                                            fullpath="org/h/more.md")])):
        if batch is not None:
            upsert(spark, out, local_docs_df(spark, batch))
            pre = snapshot(spark, out)
            assert pre["tombstones"] is None, step
        dead = {d for d, _ in pre["tombstones"] or ()}
        live = _live_rows(out)
        m = compact_in_place(spark, out)
        assert m["executor"] == executor and m["n_buckets"] == 1, step
        (part,) = [st for st in m["stages"] if st["stage"] == "partials"]
        assert (part["source"], part["dropped"]) == (
            "postings", sum(p[4] in dead for p in pre["postings"])), step
        ref = str(tmp_path / f"ref-{len(live)}")
        build_index(spark, local_docs_df(spark, live), ref, mode=mode,
                    block_span=KW["block_span"])
        a = snapshot(spark, out)
        assert a == snapshot(spark, ref), step
        if executor == "driver":
            # the runs reach the termlist kernel in the tokenize
            # kernel's order, so terms/ is written in a build's order
            got, want = (B._read_table(os.path.join(d, "terms"),
                                       ["term", "doc_id"]).to_pylist()
                         for d in (out, ref))
            assert got == want, step
        assert answers(spark, out) == answers(spark, ref), step
        assert "shuffles" not in {r[0] for r in a["dict"]}
        assert EMPTY["doc_id"] in {r[0] for r in a["docs"]}
        if mode == "simple":
            assert EMPTY["doc_id"] not in {r[0] for r in a["docstats"]}


def test_driver_compaction_runs_no_spark_job(spark, pair, tmp_path):
    """A driver-sized compaction reads and writes with pyarrow only: no
    Spark job runs.  Its partials stage record names its source, the
    committed posting runs, and the postings of tombstoned docs it
    dropped; a build's names the tokenizer."""
    assert [st.get("source") for st in pair[1]["stages"]
            if st["stage"] == "partials"] == ["tokenize"]
    out = str(tmp_path / "idx")
    shutil.copytree(pair[0], out)
    upsert(spark, out, local_docs_df(spark, UPSERT))
    before = snapshot(spark, out)
    dead = {d for d, _ in before["tombstones"]}
    m, n = count_spark_jobs(spark, lambda: compact_in_place(spark, out))
    assert m["executor"] == "driver" and n == 0, n
    (part,) = [st for st in m["stages"] if st["stage"] == "partials"]
    assert part["source"] == "postings"
    assert part["dropped"] == sum(p[4] in dead for p in before["postings"])
    assert part["dropped"] > 0
    assert not os.path.exists(os.path.join(out, "partials"))


def test_driver_upsert_runs_few_spark_jobs(spark, pair, tmp_path):
    """A small driver upsert runs no Spark job but the ``toArrow`` that
    collects its fullpath-ordered batch: its stages, its tombstones and
    its negative dict deltas all read and write with pyarrow, so no
    Spark join or write runs."""
    out = str(tmp_path / "idx")
    shutil.copytree(pair[0], out)
    batch = local_docs_df(spark, UPSERT)
    _, n_collect = count_spark_jobs(spark, lambda: B._doc_shape(
        batch.drop("doc_id")).orderBy("fullpath").toArrow())
    m, n = count_spark_jobs(spark, lambda: upsert(spark, out, batch))
    assert m["upserts"][-1]["executor"] == "driver"
    assert os.listdir(os.path.join(out, "tombstones"))
    assert os.listdir(os.path.join(out, "dict_delta"))
    assert n == n_collect, (n, n_collect)
    assert n <= JOBS_PER_DRIVER_UPSERT, n


def test_fold_dict_deltas_after_either_executor(spark, pair, tmp_path,
                                                monkeypatch):
    """The negative dict deltas of an upsert on either executor carry
    ``dict_delta/``'s exact parquet types, and folding them into the
    dictionary leaves the answers of the unfolded index, and equal
    indexes, whichever executor ran the upsert's stages."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType, StructField, StructType
    from pyspark.sql.pandas.types import to_arrow_schema
    want = [(f.name, f.type) for f in to_arrow_schema(StructType(
        B._DIR_SCHEMAS["dict_delta"].fields
        + [StructField("gen", IntegerType())]))]
    snaps = {}
    for executor, limit in LIMITS.items():
        out = str(tmp_path / executor)
        shutil.copytree(pair[0], out)
        monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", limit)
        m = upsert(spark, out, local_docs_df(spark, UPSERT))
        assert m["upserts"][-1]["executor"] == executor
        files = glob.glob(os.path.join(out, "dict_delta", "*.parquet"))
        assert files
        for f in files:
            assert [(c.name, c.type) for c in pq.read_schema(f)] == want, f
        unfolded = answers(spark, out)
        fold_dict_deltas(spark, out)
        assert not os.path.exists(os.path.join(out, "dict_delta"))
        assert answers(spark, out) == unfolded, executor
        snaps[executor] = snapshot(spark, out)
    assert snaps["driver"] == snaps["spark"]


@pytest.mark.parametrize("stage", ["docs", "postings", "dict_delta",
                                   "tombstones", "globalstats"])
def test_driver_upsert_cut_mid_write_stays_invisible(spark, pair, tmp_path,
                                                     monkeypatch, stage):
    """A driver upsert writes into directories that already hold
    committed files.  When one of its parquet writes is cut short — part
    of the file on disk, then an error, as when the process dies or the
    disk fills — every visible file stays readable, a Searcher gives the
    pre-upsert answers, and a retried upsert commits the answers of an
    upsert that never failed."""
    import pyarrow.parquet as pq

    out, clean = str(tmp_path / "idx"), str(tmp_path / "clean")
    shutil.copytree(pair[0], out)
    shutil.copytree(pair[0], clean)
    upsert(spark, clean, local_docs_df(spark, UPSERT))
    want_before, want_after = answers(spark, out), answers(spark, clean)

    write_table = pq.write_table

    def cut_short(tbl, where, **kw):
        write_table(tbl, where, **kw)
        if os.sep + stage + os.sep in where:
            with open(where, "r+b") as f:
                f.truncate(os.path.getsize(where) // 2)
            raise OSError(28, "No space left on device")

    with monkeypatch.context() as mp:
        mp.setattr(pq, "write_table", cut_short)
        with pytest.raises(OSError, match="No space"):
            upsert(spark, out, local_docs_df(spark, UPSERT))
    visible = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    assert visible
    for f in visible:
        pq.read_metadata(f)
    assert answers(spark, out) == want_before
    m = upsert(spark, out, local_docs_df(spark, UPSERT))
    assert m["upserts"][-1]["executor"] == "driver"
    assert answers(spark, out) == want_after


def test_v5_index_refuses_upsert_and_compaction_migrates(spark, pair,
                                                         tmp_path):
    """Format v6 dropped the dead ``block_max_part`` posting column.  A
    v5 index — made here from a v6 one by adding the column back as
    zeros and stamping the manifest v5 — refuses ``upsert()`` and
    answers as before; ``compact_in_place`` rebuilds it from ``docs/``
    as a v6 index with the same answers."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "v5")
    shutil.copytree(pair[0], out)
    want = answers(spark, out)
    files = glob.glob(os.path.join(out, "postings", "bucket=*", "*.parquet"))
    assert files
    for f in files:
        t = pq.ParquetFile(f).read()
        t = t.add_column(t.schema.get_field_index("block_min_doclen"),
                         "block_max_part", pa.array(np.zeros(t.num_rows)))
        pq.write_table(t, f)
    mpath = os.path.join(out, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["format_version"] = 5
    with open(mpath, "w") as f:
        json.dump(m, f)

    def postings_cols():
        return spark.read.parquet(os.path.join(out, "postings")).columns

    assert "block_max_part" in postings_cols()
    with pytest.raises(ValueError, match=r"v5.*run compact\(\)"):
        upsert(spark, out, local_docs_df(spark, UPSERT))
    assert answers(spark, out) == want
    m6 = compact_in_place(spark, out)
    assert m6["format_version"] == B.FORMAT_VERSION == 6
    assert "block_max_part" not in postings_cols()
    assert answers(spark, out) == want


def test_terms_with_dropped_columns_read_and_upsert_alike(spark, pair,
                                                         tmp_path):
    """Earlier format-v6 builds wrote ``terms/`` with ``block``,
    ``doclen`` and ``positions`` columns too.  An index whose ``terms/``
    has them back (rebuilt here from ``docstats/`` and ``postings/``)
    gives the eset and matching-term answers of the index as built, and
    an upsert writes the same deltas into it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from mdq_spark.codec import (
        decode_doc_gaps, decode_positions, encode_position_list,
    )

    fresh, old = str(tmp_path / "fresh"), str(tmp_path / "old")
    shutil.copytree(pair[0], fresh)
    shutil.copytree(pair[0], old)
    ds = B._read_table(os.path.join(old, "docstats"), ["doc_id", "doclen"])
    doclen = dict(zip(ds["doc_id"].to_pylist(), ds["doclen"].to_pylist()))
    blobs = {}
    for r in B._read_table(os.path.join(old, "postings"),
                           ["term", "n", "doc_gaps", "positions"]).to_pylist():
        if r["positions"] is not None:
            for d, p in zip(decode_doc_gaps(r["doc_gaps"], r["n"]),
                            decode_positions(r["positions"], r["n"])):
                blobs[r["term"], int(d)] = encode_position_list(
                    [int(x) for x in p])
    files = glob.glob(os.path.join(old, "terms", "*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f)
        ids, terms = t["doc_id"].to_pylist(), t["term"].to_pylist()
        t = t.add_column(2, "block", pa.array(
            [d // KW["block_span"] for d in ids], pa.int64()))
        t = t.add_column(5, "doclen", pa.array(
            [doclen[d] for d in ids], pa.int32()))
        t = t.add_column(6, "positions", pa.array(
            [blobs.get((term, d)) for term, d in zip(terms, ids)],
            pa.binary()))
        pq.write_table(t, f)
    assert spark.read.parquet(os.path.join(old, "terms")).columns == [
        "term", "bucket", "block", "doc_id", "wdf", "doclen", "positions",
        "gen"]

    def reads(out):
        s = Searcher(spark, out)
        got = {scheme: [(r["term"], round(r["wt"], 9)) for r in s.get_eset(
            [1, 4, 5, 11], maxitems=10, scheme=scheme).collect()]
            for scheme in ("trad", "bo1")}
        got["matching"] = [tuple(r) for r in s.get_matching_terms(
            "spark quick fox", 4).collect()]
        return got

    want = reads(fresh)
    assert want["trad"] and want["bo1"] and want["matching"]
    assert reads(old) == want
    for out in (fresh, old):
        upsert(spark, out, local_docs_df(spark, UPSERT))
    a, b = snapshot(spark, fresh), snapshot(spark, old)
    assert a["dict_delta"] and a == b
    assert reads(old) == reads(fresh)


def _stopped_after_partials(spark, out, monkeypatch):
    """Build the fixture corpus at ``out`` on the driver and stop it
    once ``partials/`` has committed, before any of its consumers."""
    def stop(*a, **k):
        raise RuntimeError("stopped after partials")

    with monkeypatch.context() as mp:
        mp.setattr(B, "_termlist_kernel", stop)
        with pytest.raises(RuntimeError, match="stopped after partials"):
            build_index(spark, local_docs_df(spark, ROWS), out, **KW)
    assert os.path.exists(os.path.join(out, "partials", "_SUCCESS"))


FIRST_CHARS = ["%", "#", "=", "/", ":", "?", "\\", "{", "[", "]", "^", "*",
               "'", '"', "\x01", "\x1f", "\x7f", " ", "!", "+", "é", "中",
               "😀"]


def test_reserved_and_non_ascii_first_chars_round_trip(spark, pair,
                                                       tmp_path,
                                                       monkeypatch):
    """Dictionary partition directories are named as Spark's
    ``partitionBy`` names them, so terms starting with a character Spark
    escapes or a non-ASCII one are found by both the Spark dictionary
    scan and the pyarrow probe.  The tokenizer never emits the escaped
    characters first, so the terms are planted in a partials checkpoint
    (taken from a build stopped after partials) that the build resumes
    from."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    drv0 = pair[0]
    stopped = str(tmp_path / "stopped")
    _stopped_after_partials(spark, stopped, monkeypatch)
    part = B._read_table(os.path.join(stopped, "partials"))
    runs = part.filter(pc.field("term") == "spark").to_pylist()
    planted = [dict(r, term=c + "spark", bucket=term_bucket(c + "spark", 8))
               for c in FIRST_CHARS for r in runs]
    crafted = pa.concat_tables(
        [part, pa.Table.from_pylist(planted, schema=part.schema)])
    want = sorted({c + "spark" for c in FIRST_CHARS} | {"émigré", "中文"})
    dirs = {}
    for executor, limit in (("driver", IndexBuilder.DRIVER_BUILD_BYTES),
                            ("spark", 0)):
        out = str(tmp_path / executor)
        shutil.copytree(os.path.join(drv0, "docs"),
                        os.path.join(out, "docs"))
        os.makedirs(os.path.join(out, "partials"))
        pq.write_table(crafted, os.path.join(out, "partials", "p.parquet"))
        open(os.path.join(out, "partials", "_SUCCESS"), "w").close()
        # the layout the stopped build recorded, which the resume checks
        shutil.copy(os.path.join(stopped, "partials", "_LAYOUT"),
                    os.path.join(out, "partials", "_LAYOUT"))
        monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", limit)
        m = build_index(spark, local_docs_df(spark, ROWS), out, **KW)
        assert m["executor"] == executor
        assert "partials" not in [s["stage"] for s in m["stages"]]
        s = Searcher(spark, out)
        probe = {r["term"] for r in s._dict_rows_arrow(want, [], None)}
        scan = {r["term"] for r in s._dict_scan(want, []).collect()}
        assert probe == scan == set(want), executor
        pats = [c + "sp" for c in FIRST_CHARS]
        probe = {r["term"] for r in s._dict_rows_arrow([], pats, None)}
        scan = {r["term"] for r in s._dict_scan([], pats).collect()}
        assert probe == scan == {c + "spark" for c in FIRST_CHARS}
        dirs[executor] = sorted(d for d in os.listdir(
            os.path.join(out, "dict")) if d.startswith("tpfx="))
    assert dirs["driver"] == dirs["spark"]
    assert "tpfx=%25" in dirs["driver"] and "tpfx=é" in dirs["driver"]


@pytest.mark.parametrize("resume_limit", [IndexBuilder.DRIVER_BUILD_BYTES,
                                          0])
def test_driver_build_resumes_after_partials(spark, pair, tmp_path,
                                             monkeypatch, resume_limit):
    """A driver build stopped after partials resumes, under either
    executor (one stage graph, one set of resume rules), to an equal
    index and removes ``partials/``; a second resume runs no stage, and
    one that finds a leftover ``partials/`` beside current consumers
    (a build stopped between their commit and its removal) runs none
    either and removes it."""
    drv0 = pair[0]
    out = str(tmp_path / "idx")
    docs = local_docs_df(spark, ROWS)
    _stopped_after_partials(spark, out, monkeypatch)
    assert not os.path.exists(os.path.join(out, "manifest.json"))
    assert not os.path.exists(os.path.join(out, "terms"))
    leftover = str(tmp_path / "partials")
    shutil.copytree(os.path.join(out, "partials"), leftover)
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", resume_limit)
    m = build_index(spark, docs, out, **KW)
    assert m["executor"] == ("driver" if resume_limit else "spark")
    assert sorted(s["stage"] for s in m["stages"]) == sorted(
        ["terms", "docstats", "globalstats", "dict", "postings"])
    assert not os.path.exists(os.path.join(out, "partials"))
    assert snapshot(spark, out) == snapshot(spark, drv0)
    again = build_index(spark, docs, out, **KW)
    assert again["stages"] == []
    shutil.copytree(leftover, os.path.join(out, "partials"))
    assert build_index(spark, docs, out, **KW)["stages"] == []
    assert not os.path.exists(os.path.join(out, "partials"))
    # the statistics a resume re-reads equal those the stages produced
    keys = ("n_docs", "n_terms", "n_postings", "term_df_skew_factor",
            "avg_doclen")
    assert again["globalstats"] == m["globalstats"]
    assert [again["metrics"][k] for k in keys] == \
        pytest.approx([m["metrics"][k] for k in keys])


@pytest.mark.parametrize("executor", sorted(LIMITS))
def test_build_resume_after_cut_upsert_ignores_its_partials(
        spark, pair, tmp_path, monkeypatch, executor):
    """An upsert stopped after its partials stage, before its consumers,
    leaves no ``partials/`` on the driver, and on Spark one that holds
    its own generation's rows only.  A build resume that then finds
    ``postings/`` wiped rebuilds the checkpoint from ``docs/`` instead
    of resuming from those rows, so the postings it commits and the
    answers equal the original index's."""
    drv0 = pair[0]
    out = str(tmp_path / "idx")
    shutil.copytree(drv0, out)
    want = answers(spark, drv0)

    def stop(*a, **k):
        raise RuntimeError("stopped after partials")

    with monkeypatch.context() as mp:
        mp.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", LIMITS[executor])
        mp.setattr(B, "_termlist_kernel", stop)
        with pytest.raises(RuntimeError, match="stopped after partials"):
            upsert(spark, out, local_docs_df(spark, UPSERT))
    part = os.path.join(out, "partials")
    if executor == "spark":
        assert os.path.exists(os.path.join(part, "_SUCCESS"))
        gens = B._read_table(part, ["gen"]).column("gen").to_pylist()
        assert gens and set(gens) == {1}
    else:
        assert not os.path.exists(part)
    shutil.rmtree(os.path.join(out, "postings"))
    m = build_index(spark, local_docs_df(spark, ROWS), out, **KW)
    assert [s["stage"] for s in m["stages"]] == ["partials", "postings"]
    assert not os.path.exists(part)
    assert snapshot(spark, out)["postings"] == \
        snapshot(spark, drv0)["postings"]
    assert answers(spark, out) == want


@pytest.fixture(scope="module")
def sized(spark, tmp_path_factory):
    """The fixture corpus built once by each executor with no
    ``n_buckets`` given, so the build sizes the count to its input."""
    base = tmp_path_factory.mktemp("sized")
    outs = {}
    for executor, limit in LIMITS.items():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", limit)
            outs[executor] = str(base / executor)
            build_index(spark, local_docs_df(spark, ROWS), outs[executor],
                        block_span=4)
    return outs


@pytest.mark.parametrize("executor", sorted(LIMITS))
def test_sized_bucket_count_answers_like_64_buckets(spark, sized, tmp_path,
                                                    monkeypatch, executor):
    """A build given no ``n_buckets`` takes the count its input's size
    estimate picks (one bucket for the small fixture: one postings
    directory) and answers every query as a 64-bucket build does."""
    out = sized[executor]
    with open(os.path.join(out, "manifest.json")) as f:
        m = json.load(f)
    assert m["executor"] == executor
    assert m["n_buckets"] == 1 == IndexBuilder.n_buckets_for(
        m["size_estimate_bytes"])
    assert [d for d in os.listdir(os.path.join(out, "postings"))
            if d.startswith("bucket=")] == ["bucket=0"]
    wide = str(tmp_path / "wide")
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", LIMITS[executor])
    build_index(spark, local_docs_df(spark, ROWS), wide, block_span=4,
                n_buckets=64)
    assert answers(spark, out) == answers(spark, wide)


@pytest.mark.parametrize("executor", sorted(LIMITS))
def test_resume_with_other_bucket_count_reruns_bucketed_stages(
        spark, pair, sized, tmp_path, monkeypatch, executor):
    """A build cut before its commit (its manifest gone) and resumed
    with another bucket count, here the one the input's size picks,
    reruns every stage the count shapes instead of committing the new
    count over postings bucketed by the old one: the index equals a
    clean build at the new count and answers as the first build."""
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", LIMITS[executor])
    out = str(tmp_path / "idx")
    docs = local_docs_df(spark, ROWS)
    build_index(spark, docs, out, **KW)
    os.remove(os.path.join(out, "manifest.json"))
    m = build_index(spark, docs, out, block_span=4)
    assert m["n_buckets"] == 1
    assert sorted(s["stage"] for s in m["stages"]) == sorted(
        ["partials", "terms", "docstats", "globalstats", "dict", "postings"])
    assert snapshot(spark, out) == snapshot(spark, sized[executor])
    assert answers(spark, out) == answers(spark, pair[0])


def _code_table(spark, tmp_path, n):
    """An ``n``-row code table written as parquet, as a real one is, so
    Catalyst can size the ingest output."""
    table = str(tmp_path / "code")
    spark.createDataFrame(
        [("org/a", f"f{i}.py", "c" * 40, "python", f"def f{i}(): spark")
         for i in range(n)],
        "repo string, path string, commit string, lang string, "
        "content string").write.parquet(table)
    return spark.read.parquet(table)


def test_ingest_and_driver_build_run_at_most_three_spark_jobs(spark,
                                                             tmp_path):
    """Ingest is a lazy projection and runs no Spark job; a driver
    build of its output runs at most three: the ordered ``toArrow``
    that collects its input (range sampling, the shuffle and the
    collect)."""
    from mdq_spark.ingest import docs_from_code_table
    code = _code_table(spark, tmp_path, 20)
    docs, n_ingest = count_spark_jobs(
        spark, lambda: docs_from_code_table(spark, code))
    assert n_ingest == 0
    m, n = count_spark_jobs(
        spark, lambda: build_index(spark, docs, str(tmp_path / "i"), **KW))
    assert m["executor"] == "driver"
    assert m["metrics"]["n_docs"] == 20
    assert n <= 3, n


def test_executors_number_unnumbered_docs_equally(spark, tmp_path,
                                                  monkeypatch):
    """The docs stage numbers a docs DataFrame that has no ``doc_id``
    in its row order from 1, and both executors number it, and write
    and answer from it, the same."""
    docs = local_docs_df(spark, ROWS).drop("doc_id").orderBy("fullpath")
    outs = {}
    for executor, limit in LIMITS.items():
        monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", limit)
        outs[executor] = str(tmp_path / executor)
        m = build_index(spark, docs, outs[executor], **KW)
        assert m["executor"] == executor
        assert m["next_doc_id"] == len(ROWS) + 1
    a, b = snapshot(spark, outs["driver"]), snapshot(spark, outs["spark"])
    assert [r[:2] for r in a["docs"]] == list(
        enumerate(sorted(r["fullpath"] for r in ROWS), 1))
    assert a == b
    assert answers(spark, outs["driver"]) == answers(spark, outs["spark"])


def test_spark_build_of_ingest_output_shuffles_docs_once(spark, tmp_path,
                                                         monkeypatch):
    """Ingest output arrives range-partitioned by its ``orderBy``; the
    Spark docs stage numbers it in those partitions and writes it with
    no second range exchange, so the docs rows cross one shuffle."""
    from mdq_spark.ingest import docs_from_code_table
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", 0)
    docs = docs_from_code_table(spark, _code_table(spark, tmp_path, 40))
    builder = IndexBuilder(spark, str(tmp_path / "i"), **KW)
    res, records = shuffle_write_records(
        spark, lambda: builder._run_stages(docs, {"docs"}))
    assert (res["executor"], res["n_docs"]) == ("spark", 40)
    assert sum(n >= 40 for n in records) == 1, records


SPLIT_CONFS = ("spark.sql.files.maxPartitionBytes",
               "spark.sql.files.openCostInBytes")


@pytest.mark.parametrize("fails", [False, True])
def test_spark_build_restores_split_confs(spark, tmp_path, monkeypatch,
                                          fails):
    """The Spark executor sizes file splits through session-wide confs;
    a build, successful or not, leaves them as it found them (set or
    unset)."""
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", 0)
    saved = {k: spark.conf.get(k, None) for k in SPLIT_CONFS}
    spark.conf.set(SPLIT_CONFS[0], "7777777")
    spark.conf.unset(SPLIT_CONFS[1])
    try:
        before = {k: spark.conf.get(k, None) for k in SPLIT_CONFS}
        assert before[SPLIT_CONFS[1]] is None
        if fails:
            def stop(*a, **k):
                raise RuntimeError("termlist failed")
            monkeypatch.setattr(B, "_termlist_kernel", stop)
            with pytest.raises(RuntimeError, match="termlist failed"):
                build_index(spark, local_docs_df(spark, ROWS),
                            str(tmp_path / "i"), **KW)
        else:
            m = build_index(spark, local_docs_df(spark, ROWS),
                            str(tmp_path / "i"), **KW)
            assert m["executor"] == "spark"
        assert {k: spark.conf.get(k, None) for k in SPLIT_CONFS} == before
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize("limit", [IndexBuilder.DRIVER_BUILD_BYTES, 0])
def test_build_rejects_docs_missing_columns(spark, tmp_path, monkeypatch,
                                            limit):
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", limit)
    out = str(tmp_path / "idx")
    docs = local_docs_df(spark, ROWS).drop("subtitle")
    with pytest.raises(ValueError, match="subtitle"):
        build_index(spark, docs, out, **KW)
    assert not os.path.exists(out)


def test_stage_check_propagates_unexpected_errors(tmp_path, monkeypatch):
    assert not B._stage_current(str(tmp_path / "missing"))

    def broken(*a, **k):
        raise RuntimeError("not a missing stage")

    monkeypatch.setattr(B.pads, "dataset", broken)
    with pytest.raises(RuntimeError, match="not a missing stage"):
        B._stage_current(str(tmp_path))


def test_range_probe_propagates_job_failures(spark, tmp_path):
    """A failure while the doc-id range probe runs is a bug to surface,
    not a reason to fall back to the shuffle."""
    from pyspark.errors import PythonException
    from pyspark.sql import functions as F

    boom = F.udf(lambda x: x // 0, "long")
    docs = local_docs_df(spark, ROWS).withColumn("doc_id", boom("doc_id"))
    with pytest.raises(PythonException):
        IndexBuilder(spark, str(tmp_path / "i"))._ranges_disjoint(docs)


def test_input_files_propagates_unexpected_errors(spark, tmp_path,
                                                  monkeypatch):
    def broken(self):
        raise RuntimeError("inputFiles broke")

    docs = local_docs_df(spark, ROWS)
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", 0)
    monkeypatch.setattr(type(docs), "inputFiles", broken)
    with pytest.raises(RuntimeError, match="inputFiles broke"):
        build_index(spark, docs, str(tmp_path / "i"), **KW)


# a directory name Hadoop would read as a glob pattern
GLOB_NAME = "i[1]*x"


@pytest.mark.parametrize("executor", ["driver", "spark"])
def test_glob_metacharacter_path_builds_upserts_and_compacts(
        spark, pair, tmp_path, monkeypatch, executor):
    """Spark globs every read path.  An index in a directory whose name
    holds glob metacharacters builds, upserts and compacts on either
    executor to the same index, with the same answers, as one at a plain
    path."""
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES",
                        1 << 40 if executor == "driver" else 0)
    plain = str(tmp_path / "plain")
    shutil.copytree(pair[0] if executor == "driver" else pair[2], plain)
    odd = str(tmp_path / executor / GLOB_NAME)
    m = build_index(spark, local_docs_df(spark, ROWS), odd, **KW)
    assert m["executor"] == executor
    for step in ("build", "upsert", "compact"):
        if step == "upsert":
            for out in (plain, odd):
                m = upsert(spark, out, local_docs_df(spark, UPSERT))
                assert m["upserts"][-1]["executor"] == executor
        elif step == "compact":
            for out in (plain, odd):
                compact_in_place(spark, out)
        assert snapshot(spark, odd) == snapshot(spark, plain), step
        assert answers(spark, odd) == answers(spark, plain), step


def test_writers_take_file_uris_and_refuse_other_schemes(spark, pair,
                                                         tmp_path,
                                                         monkeypatch):
    """Every writer resolves its location as the Searcher does: a
    ``file:`` URI names the local path, and any other scheme raises
    before anything is written."""
    from mdq_spark.spell import build_spelling
    plain = str(tmp_path / "plain")
    shutil.copytree(pair[0], plain)
    path = str(tmp_path / "via-uri")
    uri = "file://" + path
    build_index(spark, local_docs_df(spark, ROWS), uri, **KW)
    assert snapshot(spark, path) == snapshot(spark, plain)
    for loc in (plain, uri):
        upsert(spark, loc, local_docs_df(spark, UPSERT))
        fold_dict_deltas(spark, loc)
    assert snapshot(spark, path) == snapshot(spark, plain)
    assert answers(spark, uri) == answers(spark, plain)
    compact_in_place(spark, uri)
    compact_in_place(spark, plain)
    assert snapshot(spark, path) == snapshot(spark, plain)
    build_spelling(Searcher(spark, uri))
    assert os.path.exists(os.path.join(path, "spelling_meta.json"))
    assert Searcher(spark, uri).suggest("sprak") == "spark"

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    elsewhere = "s3://x/idx"
    for write in (lambda: build_index(spark, local_docs_df(spark, ROWS),
                                      elsewhere, **KW),
                  lambda: upsert(spark, elsewhere,
                                 local_docs_df(spark, UPSERT)),
                  lambda: fold_dict_deltas(spark, elsewhere),
                  lambda: compact_in_place(spark, elsewhere)):
        with pytest.raises(ValueError, match="local path or a file: URI"):
            write()
    assert os.listdir(cwd) == []


@pytest.mark.parametrize("where", ["file_uri", "glob_name"])
def test_searcher_at_file_uri_and_glob_path(spark, pair, tmp_path,
                                            monkeypatch, where):
    """A Searcher opened through a ``file:`` URI or on a directory whose
    name holds glob metacharacters answers every read path as the plain
    path does: a driver query, a filtered query, the exchange, a batch,
    an expansion set and a spelling suggestion."""
    from pyspark.sql import functions as F
    plain = pair[0]
    if where == "file_uri":
        loc = "file://" + plain
    else:
        loc = str(tmp_path / "a[2]*b]")
        shutil.copytree(plain, loc)

    def run(location):
        s, n = count_spark_jobs(spark, lambda: Searcher(spark, location))
        assert n == 0
        rows, n = count_spark_jobs(spark, lambda: s.fetch(
            s.query_df("spark", k=5)).collect())
        assert n == 0
        out = {"driver": [tuple(r) for r in rows]}
        for q in ("spark", "quick brown", "qui"):
            out[q, "filtered"] = [tuple(r) for r in s.query_df(
                q, k=5, filters=F.array_contains("tags", "rust")).collect()]
        with monkeypatch.context() as mp:
            mp.setattr(Searcher, "LOCAL_EVAL_ROWS", 0)
            for q in ("spark", '"quick brown" ', "NOT spark AND quick"):
                out[q, "exchange"] = [
                    tuple(r) for r in s.query_df(q, k=5).collect()]
        out["batch"] = sorted(tuple(r) for r in s.batch_search(
            {"a": "spark", "b": "quick OR fox"}, k=3).collect())
        out["eset"] = [tuple(r) for r in s.get_eset([1, 2]).collect()]
        out["suggest"] = s.suggest("sprak")
        return out

    want = run(plain)
    assert want["driver"] and want[("spark", "exchange")] and want["eset"]
    assert want["suggest"] == "spark"
    assert run(loc) == want

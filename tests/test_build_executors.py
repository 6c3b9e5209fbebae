"""The build's two executors: the driver executor (stage kernels
in-process on pyarrow) and the Spark executor must write the same index,
through a fresh build, an upsert, a compaction and a resume."""

import json
import os
import shutil

import pytest

from conftest import count_spark_jobs, local_docs_df
from mdq_spark import build as B
from mdq_spark.build import IndexBuilder, build_index, term_bucket
from mdq_spark.search import Searcher
from mdq_spark.upsert import compact_in_place, upsert
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
    from pyspark.sql import functions as F
    with open(os.path.join(out, "manifest.json")) as f:
        m = json.load(f)

    def rows(rel, *cols):
        if not os.path.exists(os.path.join(out, rel)):
            return None
        df = spark.read.parquet(os.path.join(out, rel))
        return sorted(tuple(r) for r in df.select(*cols).collect())

    pos = F.coalesce(F.hex("positions"), F.lit("NULL"))
    return {
        "globalstats": m["globalstats"],
        "next_doc_id": m["next_doc_id"],
        "docs": rows("docs", "doc_id", "fullpath", "title", "body", "gen"),
        "dict": rows(m.get("dict_dir", "dict"), "term", "bucket", "df",
                     "cf", "wdf_max", "gen", "tpfx"),
        "postings": _decoded_postings(
            spark.read.parquet(os.path.join(out, "postings")).collect()),
        "docstats": rows("docstats", "doc_id", "doclen", "gen"),
        "terms": rows("terms", "term", "bucket", "block", "doc_id", "wdf",
                      "doclen", pos, "gen"),
        "dict_delta": rows("dict_delta", "term", "ddf", "dcf", "gen"),
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
    a, b = snapshot(spark, drv), snapshot(spark, spk)
    assert a["docs"] and a["dict"] and a["postings"] and a["terms"]
    assert a == b
    assert answers(spark, drv) == answers(spark, spk)


def test_executors_equal_after_upsert_and_compaction(spark, pair,
                                                      tmp_path):
    drv0, _, spk0, _ = pair
    drv, spk = str(tmp_path / "driver"), str(tmp_path / "spark")
    shutil.copytree(drv0, drv)
    shutil.copytree(spk0, spk)
    for out in (drv, spk):
        upsert(spark, out, spark.createDataFrame(UPSERT,
                                                 schema=B.DOCS_SCHEMA))
    assert snapshot(spark, drv) == snapshot(spark, spk)
    assert answers(spark, drv) == answers(spark, spk)
    m_drv = compact_in_place(spark, drv)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", 0)
        m_spk = compact_in_place(spark, spk)
    assert (m_drv["executor"], m_spk["executor"]) == ("driver", "spark")
    a, b = snapshot(spark, drv), snapshot(spark, spk)
    assert a["tombstones"] is None and a["docs"]
    assert a == b
    assert answers(spark, drv) == answers(spark, spk)


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
    the build resumes from."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    drv0 = pair[0]
    part = B._read_table(os.path.join(drv0, "partials"))
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
    index; a second resume runs no stage."""
    drv0 = pair[0]
    out = str(tmp_path / "idx")
    docs = local_docs_df(spark, ROWS)

    def stop(*a, **k):
        raise RuntimeError("stopped after partials")

    monkeypatch.setattr(B, "_termlist_kernel", stop)
    with pytest.raises(RuntimeError, match="stopped after partials"):
        build_index(spark, docs, out, **KW)
    assert os.path.exists(os.path.join(out, "partials", "_SUCCESS"))
    assert not os.path.exists(os.path.join(out, "manifest.json"))
    assert not os.path.exists(os.path.join(out, "terms"))
    monkeypatch.undo()
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", resume_limit)
    m = build_index(spark, docs, out, **KW)
    assert m["executor"] == ("driver" if resume_limit else "spark")
    assert sorted(s["stage"] for s in m["stages"]) == sorted(
        ["terms", "docstats", "globalstats", "dict", "postings"])
    assert snapshot(spark, out) == snapshot(spark, drv0)
    again = build_index(spark, docs, out, **KW)
    assert again["stages"] == []
    # the statistics a resume re-reads equal those the stages produced
    keys = ("n_docs", "n_terms", "n_postings", "term_df_skew_factor",
            "avg_doclen")
    assert again["globalstats"] == m["globalstats"]
    assert [again["metrics"][k] for k in keys] == \
        pytest.approx([m["metrics"][k] for k in keys])


def test_driver_build_runs_one_spark_job(spark, tmp_path):
    """Beyond ingest, a driver build runs one Spark job: the
    ``toArrow`` that collects its input.  The code table is read from
    parquet, as a real one is, so Catalyst can size the ingest output."""
    from mdq_spark.ingest import docs_from_code_table
    table = str(tmp_path / "code")
    spark.createDataFrame(
        [("org/a", f"f{i}.py", "c" * 40, "python", f"def f{i}(): spark")
         for i in range(20)],
        "repo string, path string, commit string, lang string, "
        "content string").write.parquet(table)
    docs = docs_from_code_table(spark, spark.read.parquet(table))
    m, n = count_spark_jobs(
        spark, lambda: build_index(spark, docs, str(tmp_path / "i"), **KW))
    assert m["executor"] == "driver"
    assert m["metrics"]["n_docs"] == 20
    assert n == 1


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
        IndexBuilder(spark, str(tmp_path / "i"))._range_stats(docs)


def test_input_files_propagates_unexpected_errors(spark, tmp_path,
                                                  monkeypatch):
    def broken(self):
        raise RuntimeError("inputFiles broke")

    docs = local_docs_df(spark, ROWS)
    monkeypatch.setattr(IndexBuilder, "DRIVER_BUILD_BYTES", 0)
    monkeypatch.setattr(type(docs), "inputFiles", broken)
    with pytest.raises(RuntimeError, match="inputFiles broke"):
        build_index(spark, docs, str(tmp_path / "i"), **KW)

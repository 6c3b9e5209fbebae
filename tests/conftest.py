import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from mdq_spark.session import get_spark
    sp = get_spark("mdq-tests", cores=8, shuffle_partitions=8)
    yield sp


def assert_results_match(expected, actual, tol=1e-9):
    """Rank-identical comparison with float tolerance: scores must match
    per docid; order must match except within exact-tie groups."""
    assert len(expected) == len(actual), \
        f"count mismatch: {len(expected)} vs {len(actual)}\n{expected}\n{actual}"
    eid = {d: s for d, s in expected}
    aid = {d: s for d, s in actual}
    assert set(eid) == set(aid), f"docid sets differ: {expected} vs {actual}"
    for d in eid:
        assert abs(eid[d] - aid[d]) <= tol * max(1.0, abs(eid[d])), \
            f"score mismatch doc {d}: {eid[d]} vs {aid[d]}"
    # order: group by (rounded) score, compare group-by-group
    def groups(res):
        out, cur, cur_s = [], [], None
        for d, s in res:
            if cur and abs(s - cur_s) > tol:
                out.append(sorted(cur))
                cur = []
            cur.append(d)
            cur_s = s
        if cur:
            out.append(sorted(cur))
        return out
    assert groups(expected) == groups(actual), \
        f"rank order mismatch:\n{expected}\n{actual}"


def _spark_job_ids(spark, fn):
    """``(fn(), ids of the Spark jobs fn ran)``, found through a job
    group and ``sc.statusTracker()`` once the listener bus has
    delivered every event."""
    import uuid
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def count_spark_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``."""
    out, jobs = _spark_job_ids(spark, fn)
    return out, len(jobs)


def shuffle_write_records(spark, fn):
    """``(fn(), the rows each stage of fn's Spark jobs wrote to a
    shuffle)``, read off the application's status store (a stage a
    job skipped wrote none)."""
    sc = spark.sparkContext
    out, jobs = _spark_job_ids(spark, fn)
    tracker = sc.statusTracker()
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    wrapper = sc._jvm.java.lang.Class.forName(
        "org.apache.spark.status.StageDataWrapper")
    it = sc._jsc.sc().statusStore().store().view(wrapper).iterator()
    records = []
    while it.hasNext():
        info = it.next().info()
        if info.stageId() in stages:
            records.append(info.shuffleWriteRecords())
    return out, records


def local_docs_df(spark, rows):
    """``rows`` as an Arrow-backed local DataFrame (a ``LocalRelation``).
    Catalyst sizes it, so a small one takes the driver build executor;
    a DataFrame made from a Python list is RDD-backed, has no size
    estimate and takes the Spark stages."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from mdq_spark.build import DOCS_SCHEMA
    return spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(DOCS_SCHEMA)))

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


def count_spark_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted through a job
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
    return out, len(sc.statusTracker().getJobIdsForGroup(group))

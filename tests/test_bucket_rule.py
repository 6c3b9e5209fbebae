"""The term-bucket count a build picks from its input's size estimate
(``IndexBuilder.n_buckets_for``); no Spark session is needed."""

from mdq_spark.build import IndexBuilder

# Catalyst's estimate for an RDD-backed DataFrame it cannot size, such
# as ``spark.createDataFrame(list)`` (``spark.sql.defaultSizeInBytes``)
UNKNOWN = (1 << 63) - 1


def test_amp_scale_and_unknown_sizes_pick_64():
    # a 5M-doc amplified corpus is estimated at several GB
    for size in (64 << 20, 5 << 30, 5 << 40, UNKNOWN):
        assert IndexBuilder.n_buckets_for(size) == 64


def test_benchmark_sized_inputs_pick_one_bucket():
    # the 1,000-doc benchmark corpus as ingest output (976,018 B), and
    # its live docs/ parquet read (407,988 B), whose estimate sizes a
    # compaction (which merges posting runs and tokenizes none of it)
    for size in (0, 1, 976_018, 407_988, (2 << 20) - 1):
        assert IndexBuilder.n_buckets_for(size) == 1


def test_counts_are_powers_of_two_growing_with_size():
    mib = 1 << 20
    assert [IndexBuilder.n_buckets_for(k * mib)
            for k in (1, 2, 3, 4, 7, 8, 33, 63, 64, 1000)] == \
        [1, 2, 2, 4, 4, 8, 32, 32, 64, 64]

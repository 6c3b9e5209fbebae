"""The encoded-run kernels on random runs, against per-run Python
references: ``_merge_partial_runs`` (the postings stage's concatenation
of a (term, block) group's runs) and ``_drop_kernel`` (compaction's
removal of dead docs from committed runs).  No Spark session."""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from mdq_spark import build as B
from mdq_spark.codec import (
    EMPTY_POSITIONS, decode_doc_gaps, encode_doc_gaps, varint_decode,
    varint_encode,
)

POSTINGS = to_arrow_schema(B.POSTINGS_SCHEMA)


def _positions(rng, n):
    """A positions blob of n docs, each a count and that many gaps (a
    count of 0 is the placeholder of a doc without positions)."""
    out = b""
    for _ in range(n):
        cnt = int(rng.integers(0, 4))
        out += varint_encode([cnt] + list(rng.integers(0, 300, cnt)))
    return out


def _run(rng, term, block, ids, null_positions):
    n = len(ids)
    wdfs = rng.integers(1, 200, n)
    dls = rng.integers(1, 5000, n)
    return dict(term=term, bucket=B.term_bucket(term, 8), block=block,
                first_doc=int(ids[0]), last_doc=int(ids[-1]), n=n,
                doc_gaps=encode_doc_gaps(ids), wdfs=varint_encode(wdfs),
                doclens=varint_encode(dls),
                positions=None if null_positions else _positions(rng, n),
                block_max_wdf=int(wdfs.max()),
                block_min_doclen=int(dls.min()))


def _random_groups(rng, n_groups, overlap_share=0.2):
    """Rows sorted by (term, block, first_doc): each group holds 1 to 5
    runs, disjoint and ordered unless the group overlaps."""
    rows = []
    for g in range(n_groups):
        term, block = f"t{g // 3:04d}", g % 3
        k = int(rng.integers(1, 6))
        lo = block * 10_000
        if k > 1 and rng.random() < overlap_share:
            runs = [np.sort(rng.choice(np.arange(lo, lo + 60),
                                       int(rng.integers(1, 8)),
                                       replace=False)) for _ in range(k)]
            runs.sort(key=lambda r: r[0])
        else:
            cuts = np.sort(rng.choice(np.arange(lo + 1, lo + 9_000),
                                      k - 1, replace=False))
            bounds = [lo, *cuts, lo + 9_000]
            runs = []
            for a, b in zip(bounds, bounds[1:]):
                m = int(rng.integers(1, min(b - a, 40) + 1))
                runs.append(np.sort(rng.choice(np.arange(a, b), m,
                                               replace=False)))
        for ids in runs:
            rows.append(_run(rng, term, block, ids, rng.random() < 0.4))
    return pa.Table.from_pylist(rows, schema=POSTINGS)


def _loop_merge_partial_runs():
    """The postings stage's merge as a loop over groups: the reference
    the vectorized kernel must match, batch for batch."""
    names = [f.name for f in B.POSTINGS_SCHEMA.fields]

    def take_batch(tbl, idx):
        return (tbl.select(names).take(pa.array(idx))
                .cast(POSTINGS).combine_chunks().to_batches()[0])

    def merge_table(tbl, gstarts, gends):
        sizes = gends - gstarts
        single = sizes == 1
        out = []
        if single.any():
            out.append(take_batch(tbl, gstarts[single]))
        multi = np.flatnonzero(~single)
        if len(multi) == 0:
            return out
        rows = tbl.to_pylist()
        cols = {k: [] for k in names}
        passthrough = []
        for gi in multi:
            s, e = int(gstarts[gi]), int(gends[gi])
            grp = rows[s:e]
            if not all(b["first_doc"] > a["last_doc"]
                       for a, b in zip(grp, grp[1:])):
                passthrough.extend(range(s, e))
                continue
            gaps = bytearray(grp[0]["doc_gaps"])
            for a, b in zip(grp, grp[1:]):
                raw = b["doc_gaps"]
                j = 0
                while raw[j] & 0x80:
                    j += 1
                gaps += B._varint(b["first_doc"] - a["last_doc"] - 1)
                gaps += raw[j + 1:]
            if all(r["positions"] is None for r in grp):
                pos = None
            else:
                pos = b"".join(b"\x00" * r["n"] if r["positions"] is None
                               else r["positions"] for r in grp)
            for k, v in (("term", grp[0]["term"]),
                         ("bucket", grp[0]["bucket"]),
                         ("block", grp[0]["block"]),
                         ("first_doc", grp[0]["first_doc"]),
                         ("last_doc", grp[-1]["last_doc"]),
                         ("n", sum(r["n"] for r in grp)),
                         ("doc_gaps", bytes(gaps)),
                         ("wdfs", b"".join(r["wdfs"] for r in grp)),
                         ("doclens", b"".join(r["doclens"] for r in grp)),
                         ("positions", pos),
                         ("block_max_wdf",
                          max(r["block_max_wdf"] for r in grp)),
                         ("block_min_doclen",
                          min(r["block_min_doclen"] for r in grp))):
                cols[k].append(v)
        if passthrough:
            out.append(take_batch(tbl, passthrough))
        if cols["term"]:
            out.append(pa.record_batch(
                [pa.array(cols[f.name], f.type) for f in POSTINGS],
                schema=POSTINGS))
        return out

    def fn(batches):
        leftover = None
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if leftover is not None:
                tbl = pa.concat_tables([leftover, tbl]).combine_chunks()
                leftover = None
            if tbl.num_rows == 0:
                continue
            codes = pc.dictionary_encode(
                tbl.column("term").combine_chunks()).indices.to_numpy()
            blocks = tbl.column("block").to_numpy()
            bnd = np.flatnonzero((codes[1:] != codes[:-1])
                                 | (blocks[1:] != blocks[:-1]))
            starts = np.concatenate(([0], bnd + 1))
            leftover = tbl.slice(int(starts[-1]))
            if len(starts) > 1:
                yield from merge_table(tbl, starts[:-1], starts[1:])
        if leftover is not None and leftover.num_rows:
            leftover = leftover.combine_chunks()
            yield from merge_table(leftover, np.array([0]),
                                   np.array([leftover.num_rows]))

    return fn


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("batch_rows", [7, 64, 100_000])
def test_vectorized_merge_matches_loop(seed, batch_rows):
    rng = np.random.default_rng(seed)
    tbl = _random_groups(rng, 120)
    sizes = pc.value_counts(pc.binary_join_element_wise(
        tbl["term"], pc.cast(tbl["block"], pa.string()), "/"))
    assert max(s["counts"].as_py() for s in sizes) > 1
    batches = tbl.to_batches(max_chunksize=batch_rows)
    want = list(_loop_merge_partial_runs()(iter(batches)))
    got = list(B._merge_partial_runs()(iter(batches)))
    # one schema for every batch (Arrow IPC takes one per stream)
    assert all(b.schema == got[0].schema for b in got)
    assert [b.to_pylist() for b in got] == [b.to_pylist() for b in want]
    _nulls_span_no_bytes(got)
    # every group of several disjoint runs merged, nulls kept apart
    merged = pa.Table.from_batches(got)
    assert merged.num_rows < tbl.num_rows
    assert 0 < merged["positions"].null_count < merged.num_rows


def _nulls_span_no_bytes(batches):
    """A null positions value spans no byte of the values buffer, which
    the run decoders rely on (a column's non-null values contiguous)."""
    for b in batches:
        arr = b.column("positions")
        offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
            arr.offset: arr.offset + len(arr) + 1]
        nulls = pc.is_null(arr).to_numpy(zero_copy_only=False)
        assert not np.diff(offs)[nulls].any()


def _split_positions(blob, n):
    vals = [int(v) for v in varint_decode(blob)]
    out, i = [], 0
    for _ in range(n):
        cnt = vals[i]
        out.append(varint_encode(vals[i:i + 1 + cnt]))
        i += 1 + cnt
    assert i == len(vals)
    return out


def _loop_drop(rows, dead, n_buckets):
    """Per run in Python: decode, filter, re-encode."""
    out = []
    for r in rows:
        n = r["n"]
        ids = [int(x) for x in decode_doc_gaps(r["doc_gaps"], n)]
        wdfs = [int(x) for x in varint_decode(r["wdfs"], n)]
        dls = [int(x) for x in varint_decode(r["doclens"], n)]
        pos = _split_positions(r["positions"], n) \
            if r["positions"] is not None else [None] * n
        kept = [i for i in range(n) if ids[i] not in dead]
        if not kept:
            continue
        blobs = [pos[i] for i in kept]
        positional = any(b is not None and b != EMPTY_POSITIONS
                         for b in blobs)
        out.append(dict(
            term=r["term"],
            bucket=B.term_bucket(r["term"], n_buckets) if n_buckets
            else r["bucket"],
            block=r["block"], first_doc=ids[kept[0]],
            last_doc=ids[kept[-1]], n=len(kept),
            doc_gaps=encode_doc_gaps([ids[i] for i in kept]),
            wdfs=varint_encode([wdfs[i] for i in kept]),
            doclens=varint_encode([dls[i] for i in kept]),
            positions=b"".join(blobs) if positional else None,
            block_max_wdf=max(wdfs[i] for i in kept),
            block_min_doclen=min(dls[i] for i in kept),
            sum_wdf=sum(wdfs[i] for i in kept)))
    return out


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("n_buckets", [None, 1, 16])
def test_drop_kernel_matches_loop(seed, n_buckets):
    rng = np.random.default_rng(100 + seed)
    tbl = _random_groups(rng, 150, overlap_share=0)
    ids = np.concatenate([decode_doc_gaps(r["doc_gaps"], r["n"])
                          for r in tbl.to_pylist()]).astype(np.int64)
    # a share of the docs, and every doc of some runs
    dead = set(rng.choice(np.unique(ids), len(ids) // 5, replace=False)
               .tolist())
    for r in tbl.slice(0, 10).to_pylist():
        dead |= {int(x) for x in decode_doc_gaps(r["doc_gaps"], r["n"])}
    kern = B._drop_kernel(sorted(dead), n_buckets)
    batches = list(kern(iter(tbl.to_batches(max_chunksize=37))))
    _nulls_span_no_bytes(batches)
    got = pa.Table.from_batches(batches)
    assert got.schema == to_arrow_schema(B.PARTIALS_SCHEMA)
    want = _loop_drop(tbl.to_pylist(), dead, n_buckets)
    assert got.to_pylist() == want
    assert 0 < len(want) < tbl.num_rows


def test_drop_kernel_without_dead_docs_keeps_runs():
    tbl = _random_groups(np.random.default_rng(7), 40)
    got = pa.Table.from_batches(list(B._drop_kernel([])(
        iter(tbl.to_batches()))))
    assert got.drop_columns(["sum_wdf"]).to_pylist() == tbl.to_pylist()
    assert got["sum_wdf"].to_pylist() == [
        int(varint_decode(r["wdfs"]).sum()) for r in tbl.to_pylist()]


def test_drop_kernel_finds_spans_from_counts_not_wdfs():
    """A doc's positions span is its count and that many gaps, whatever
    its wdf says; a stream that does not hold the run's docs raises."""
    row = dict(term="t", bucket=0, block=0, first_doc=1, last_doc=3, n=3,
               doc_gaps=encode_doc_gaps([1, 2, 3]),
               wdfs=varint_encode([9, 9, 9]), doclens=varint_encode([5] * 3),
               positions=varint_encode([2, 0, 200, 0, 1, 7]),
               block_max_wdf=9, block_min_doclen=5)
    tbl = pa.Table.from_pylist([row], schema=POSTINGS)
    got = list(B._drop_kernel([2])(iter(tbl.to_batches())))[0].to_pylist()
    assert got[0]["positions"] == varint_encode([2, 0, 200, 1, 7])
    got = list(B._drop_kernel([1, 3])(iter(tbl.to_batches())))[0]
    assert got.to_pylist()[0]["positions"] is None
    bad = pa.Table.from_pylist([dict(row, positions=varint_encode([2, 0]))],
                               schema=POSTINGS)
    with pytest.raises(ValueError, match="does not hold 3 docs"):
        list(B._drop_kernel([2])(iter(bad.to_batches())))

"""The encoded-run kernels on random runs, against per-run Python
references: ``_merge_partial_runs`` (the postings stage's concatenation
of a (term, block) group's runs), ``_drop_kernel`` (compaction's
removal of dead docs from committed runs) and the query's tree kernel
(``search._tree_block_fn``).  No Spark session."""

from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from mdq_spark import build as B
from mdq_spark import bm25
from mdq_spark import search as S
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


# -- the tree kernel ---------------------------------------------------

_POS_SHIFT = S._POS_SHIFT
# a block slice as the query reads it: posting runs, and MatchAll's
# (block, doc_id) rows with no term
SLICE = pa.schema([*(pa.field(c, POSTINGS.field(c).type) for c in
                     ("block", "term", "n", "doc_gaps", "wdfs", "doclens",
                      "positions")),
                   pa.field("doc_id", pa.int64())])


def _loop_survivor_keys(runs, perm, idx):
    """Positions of the survivor rows idx, decoded run by run."""
    SHIFT = np.int64(_POS_SHIFT)
    orig = perm[idx] if perm is not None else idx
    order2 = np.argsort(orig, kind="stable")
    sorted_orig = orig[order2]
    starts = np.zeros(len(runs) + 1, dtype=np.int64)
    np.cumsum([n for _, n, _ in runs], out=starts[1:])
    parts = []
    for ri, (blob, n, wdf_run) in enumerate(runs):
        a, b2 = np.searchsorted(sorted_orig, [starts[ri],
                                              starts[ri + 1]])
        if a == b2 or blob is None:
            continue
        local = (sorted_orig[a:b2] - starts[ri]).astype(np.int64)
        vals = varint_decode(blob).astype(np.int64)
        bnds = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(wdf_run + 1, out=bnds[1:])
        if bnds[-1] != len(vals) or \
                not (vals[bnds[:-1]] == wdf_run).all():
            # count != wdf for this run: walk the counts instead
            bnds[0] = 0
            for k in range(n):
                bnds[k + 1] = bnds[k] + int(vals[bnds[k]]) + 1
        cnts = vals[bnds[local]]
        total = int(cnts.sum())
        if total == 0:
            continue
        seg_off = np.zeros(len(cnts), dtype=np.int64)
        np.cumsum(cnts[:-1], out=seg_off[1:])
        gather = (np.repeat(bnds[local] + 1, cnts)
                  + np.arange(total) - np.repeat(seg_off, cnts))
        g = vals[gather] + 1  # gap-1 encoding: +1 everywhere,
        g[seg_off] -= 1       # first value of a doc is absolute
        cs = np.cumsum(g)
        prev = np.repeat(cs[seg_off] - g[seg_off], cnts)
        pos = cs - prev
        tags = np.repeat(order2[a:b2].astype(np.int64), cnts)
        parts.append(pos + (tags << SHIFT))
    if not parts:
        return None
    # fast path: one run, no reorder -> tags (and so keys) are
    # already ascending; otherwise sort the packed keys
    if len(parts) == 1 and perm is None:
        return parts[0]
    return np.sort(np.concatenate(parts))


def _loop_tree_block_fn(spec_items, distinct, lf, pos_terms=None):
    """The tree kernel as it decoded a slice run by run: ``to_pylist``,
    three varint decodes and a position blob per run, and one
    ``searchsorted`` membership per term.  The reference the whole-slice
    kernel must match exactly."""
    pos_terms = pos_terms or frozenset()

    def one_block(blk: pa.Table) -> Optional[pd.DataFrame]:
        names = blk.column_names
        rows_of: dict = {}
        if "term" in names:
            for i, t in enumerate(blk.column("term").to_pylist()):
                if t is not None:
                    rows_of.setdefault(t, []).append(i)
        all_ids = np.zeros(0, dtype="int64")
        if "doc_id" in names:
            all_ids = pc.drop_null(blk.column("doc_id")).to_numpy()
        per_term: dict = {}
        pos_runs: dict = {}
        if rows_of:
            ns, gaps, wdfs_b, dls_b = (
                blk.column(c).to_pylist()
                for c in ("n", "doc_gaps", "wdfs", "doclens"))
            blobs = (blk.column("positions").to_pylist()
                     if pos_terms else None)
        for t in distinct:
            rl = rows_of.get(t)
            if not rl:
                continue
            ids_l, wdf_l, dl_l, runs = [], [], [], []
            for i in rl:
                n = int(ns[i])
                ids_l.append(decode_doc_gaps(gaps[i], n).astype("int64"))
                wdf_l.append(varint_decode(wdfs_b[i], n).astype("int64"))
                dl_l.append(varint_decode(dls_b[i], n).astype("int64"))
                if t in pos_terms:
                    # raw blob kept; decoded lazily for survivors only
                    runs.append((blobs[i], n, wdf_l[-1]))
            ids = np.concatenate(ids_l)
            wdfs = np.concatenate(wdf_l)
            dls = np.concatenate(dl_l)
            perm = None
            if len(ids_l) > 1:  # upsert appends can interleave id ranges
                perm = np.argsort(ids, kind="stable")
                ids, wdfs, dls = ids[perm], wdfs[perm], dls[perm]
            per_term[t] = (ids, wdfs, dls)
            if t in pos_terms:
                pos_runs[t] = (runs, perm)
        if not per_term and not all_ids.size:
            return None

        universe = np.unique(np.concatenate(
            [v[0] for v in per_term.values()] + [all_ids]))
        U = universe.size
        dls0 = np.zeros(U, dtype="int64")
        have = np.zeros(U, dtype=bool)
        members: dict = {}

        def member(t):
            m = members.get(t)
            if m is None:
                ids = per_term[t][0]
                idx = np.searchsorted(ids, universe)
                idx_c = np.minimum(idx, len(ids) - 1)
                m = ((idx < len(ids)) & (ids[idx_c] == universe), idx_c)
                members[t] = m
            return m

        for t in per_term:
            f, idx = member(t)
            fill = f & ~have
            dls0[fill] = per_term[t][2][idx[fill]]
            have |= fill
        cdenom = bm25.K1 * (np.maximum(dls0 * lf, bm25.MIN_NORMLEN)
                            * bm25.B + (1.0 - bm25.B))

        def eval_spec(sp):
            kind = sp[0]
            if kind == "empty":
                return np.zeros(U, dtype=bool), np.zeros(U)
            if kind == "all":
                return np.isin(universe, all_ids), np.zeros(U)
            if kind == "leaf":
                m = np.zeros(U, dtype=bool)
                w = np.zeros(U)
                for mk, ts, tw in sp[1]:
                    if mk == "term":
                        t = ts[0]
                        if t not in per_term:
                            continue
                        f, idx = member(t)
                        wd = per_term[t][1][idx[f]]
                        w[f] += tw * (wd / (cdenom[f] + wd))
                        m |= f
                    else:  # synonym: wdf summed over constituents
                        ws = np.zeros(U, dtype="int64")
                        hit = np.zeros(U, dtype=bool)
                        for t in ts:
                            if t not in per_term:
                                continue
                            f, idx = member(t)
                            ws[f] += per_term[t][1][idx[f]]
                            hit |= f
                        w[hit] += tw * (ws[hit] / (cdenom[hit] + ws[hit]))
                        m |= hit
                return m, w
            if kind == "scaled":
                m, w = eval_spec(sp[2])
                return m, w * sp[1]
            if kind == "pos":
                op, window, ms = sp[1], sp[2], sp[3]
                empty = (np.zeros(U, dtype=bool), np.zeros(U))
                m = np.ones(U, dtype=bool)
                for _, ts, _ in ms:
                    if ts[0] not in per_term:
                        return empty
                    m &= member(ts[0])[0]
                if not m.any():
                    return empty
                w = np.zeros(U)
                for _, ts, tw in ms:
                    _, idx = member(ts[0])
                    wd = per_term[ts[0]][1][idx[m]]
                    w[m] += tw * (wd / (cdenom[m] + wd))
                surv = np.flatnonzero(m)
                order_terms = [ts[0] for _, ts, _ in ms]
                mult: dict = {}
                for t in order_terms:
                    mult[t] = mult.get(t, 0) + 1
                keys = {}
                for t in dict.fromkeys(order_terms):
                    _, idx = member(t)
                    runs, perm = pos_runs[t]
                    k = _loop_survivor_keys(runs, perm, idx[surv])
                    if k is None:
                        return empty
                    keys[t] = k
                hit = S._window_hits(op, window, order_terms, mult, keys)
                if hit is None:
                    return empty
                m2 = np.zeros(U, dtype=bool)
                m2[surv[hit]] = True
                return m2, np.where(m2, w, 0.0)
            subs = [eval_spec(s) for s in sp[1]]
            if kind == "or":
                m = subs[0][0].copy()
                w = subs[0][1].copy()
                for ms, ws in subs[1:]:
                    m |= ms
                    w += ws
                return m, w
            if kind == "and":
                m = subs[0][0].copy()
                w = subs[0][1].copy()
                for ms, ws in subs[1:]:
                    m &= ms
                    w += ws
                return m, np.where(m, w, 0.0)
            (ml, wl), (mr, wr) = subs
            if kind == "and_not":
                m = ml & ~mr
                return m, np.where(m, wl, 0.0)
            if kind == "and_maybe":
                return ml, np.where(ml, wl + wr, 0.0)
            if kind == "filter":
                m = ml & mr
                return m, np.where(m, wl, 0.0)
            if kind == "xor":
                m = ml ^ mr
                return m, np.where(m, wl + wr, 0.0)
            raise ValueError(f"unknown spec {kind}")

        frames = []
        for qid, sp in spec_items:
            m, w = eval_spec(sp)
            if not m.any():
                continue
            f = pd.DataFrame({"doc_id": universe[m], "weight": w[m]})
            if qid is not None:
                f.insert(0, "query_id", qid)
            frames.append(f)
        if not frames:
            return None
        return frames[0] if len(frames) == 1 else \
            pd.concat(frames, ignore_index=True)

    return one_block


def _interleaved(rng, terms, n_runs, per_run, n_ids):
    """{term: [run doc ids]}: each term's docs, drawn from 1..n_ids,
    dealt over n_runs runs at random, so the runs' id ranges interleave
    as upsert generations' do."""
    out = {}
    for t in terms:
        ids = np.sort(rng.choice(np.arange(1, n_ids + 1), n_runs * per_run,
                                 replace=False))
        deal = rng.permutation(np.repeat(np.arange(n_runs), per_run))
        out[t] = [ids[deal == r] for r in range(n_runs)]
    return out


def _slice(rng, runs_by_term, all_ids=(), null_pos=(), miscount=()):
    """A block slice of encoded runs, rows shuffled, plus one MatchAll
    row per id of all_ids.  Doclens are per doc (as the build
    denormalizes them), and some wdfs, doclens and positions take
    several varint bytes.  A run of a term in null_pos has no positions
    at random; in a term of miscount, some docs' position count is not
    their wdf."""
    docs = np.unique(np.concatenate(
        [np.concatenate(rs) for rs in runs_by_term.values()]))
    doclen = np.zeros(docs.max() + 1, dtype=np.int64)
    doclen[docs] = rng.choice([3, 90, 700, 40_000], len(docs))
    rows = [dict(block=0, doc_id=int(d)) for d in all_ids]
    for t, runs in runs_by_term.items():
        for ids in runs:
            wdfs = rng.choice([1, 1, 2, 3, 150], len(ids))
            cnts = wdfs + (rng.random(len(ids)) < 0.5) * (t in miscount)
            gaps = rng.choice([0, 0, 1, 2, 200], int(cnts.sum()))
            first = B._offsets(cnts)[:-1]
            gaps[first] = 124 + rng.integers(0, 8, len(ids))
            rows.append(dict(
                block=0, term=t, n=len(ids), doc_gaps=encode_doc_gaps(ids),
                wdfs=varint_encode(wdfs), doclens=varint_encode(doclen[ids]),
                positions=None if t in null_pos and rng.random() < 0.5
                else varint_encode(np.insert(gaps, first, cnts))))
    rows = [rows[i] for i in rng.permutation(len(rows))]
    return pa.Table.from_pylist(rows, schema=SLICE)


def _read_as_driver(tbl, spec_items):
    """The rows of tbl a query reads: its terms' runs, and the MatchAll
    rows when it has an "all" node."""
    terms, _, use_all = S._spec_inputs(spec_items)
    keep = pc.is_in(tbl["term"], pa.array(sorted(terms), pa.string()))
    if use_all:
        keep = pc.or_(pc.fill_null(keep, False), pc.is_valid(tbl["doc_id"]))
    return tbl.filter(pc.fill_null(keep, False))


def _kernels_agree(tbl, spec_items, lf=0.37):
    blk = _read_as_driver(tbl, spec_items)
    terms, pos_terms, _ = S._spec_inputs(spec_items)
    want = _loop_tree_block_fn(spec_items, sorted(terms), lf,
                               frozenset(pos_terms))(blk)
    got = S._tree_block_fn(spec_items, lf)(blk)
    if want is None:
        assert got is None
        return 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    return len(want)


def _t(t, tw=1.0):
    return ("term", [t], tw)


LEAF_A, LEAF_B, LEAF_C = (("leaf", [_t("a", 1.7)]), ("leaf", [_t("b", 0.9)]),
                          ("leaf", [_t("c", 1.1)]))
SPECS = {
    "term": LEAF_A,
    "missing": ("and", [LEAF_A, ("leaf", [_t("zzz")])]),
    "syn_twice": ("leaf", [("syn", ["a", "b", "a"], 0.8), _t("c", 0.4)]),
    "or": ("or", [LEAF_A, LEAF_B, LEAF_C]),
    "and": ("and", [LEAF_A, LEAF_B]),
    "and_not": ("and_not", [LEAF_A, LEAF_B]),
    "xor": ("xor", [LEAF_A, LEAF_C]),
    "and_maybe": ("and_maybe", [LEAF_A, ("scaled", 2.5, LEAF_B)]),
    "filter": ("filter", [LEAF_A, LEAF_C]),
    "phrase": ("pos", "PHRASE", 2, [_t("a", 1.2), _t("b", 0.6)]),
    "phrase_repeat": ("pos", "PHRASE", 3, [_t("a"), _t("b"), _t("a")]),
    "near": ("pos", "NEAR", 6, [_t("a"), _t("c"), _t("b")]),
    "phrase_null_runs": ("pos", "PHRASE", 2, [_t("a"), _t("d")]),
    "near_null_runs": ("pos", "NEAR", 4, [_t("d"), _t("c")]),
    "all": ("all",),
    "all_and_maybe": ("and_maybe", [("all",), LEAF_A]),
    "all_and_not": ("and_not", [("all",), ("or", [LEAF_B, LEAF_C])]),
    "empty": ("or", [("empty",), LEAF_C]),
}


@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("name", sorted(SPECS))
def test_tree_kernel_matches_per_run_loop(seed, name):
    rng = np.random.default_rng(500 + seed)
    tbl = _slice(rng, _interleaved(rng, "abcd", 4, 12, 150),
                 all_ids=np.arange(1, 170, 3), null_pos="d", miscount="c")
    _kernels_agree(tbl, [(None, SPECS[name])])


def test_tree_kernel_tagged_items_match_per_run_loop():
    rng = np.random.default_rng(9)
    tbl = _slice(rng, _interleaved(rng, "abcd", 3, 20, 150),
                 all_ids=np.arange(1, 170, 2), null_pos="d")
    items = [(q, SPECS[q]) for q in ("term", "phrase", "xor", "all",
                                      "and_not", "near_null_runs")]
    assert _kernels_agree(tbl, items) > 0


@pytest.mark.parametrize("n_terms,n_runs,per_run", [
    (1, 1, 65_536), (1000, 1, 20), (50, 20, 20), (100, 200, 3)])
def test_tree_kernel_probe_shapes_match_per_run_loop(n_terms, n_runs,
                                                     per_run):
    """The decode probe's slices: one long run, a wide expansion of
    short runs, and many generations of a few docs each."""
    rng = np.random.default_rng(n_terms + n_runs)
    terms = [f"w{i:04d}" for i in range(n_terms)]
    tbl = _slice(rng, _interleaved(rng, terms, n_runs, per_run,
                                   2 * n_runs * per_run))
    assert _kernels_agree(tbl, [(None, ("leaf", [("syn", terms, 1.3)]))])
    pair = [_t(terms[0]), _t(terms[-1], 0.5)]
    assert _kernels_agree(tbl, [(None, ("or", [
        ("pos", "NEAR", 10, pair),
        ("and", [("leaf", pair[:1]), ("leaf", pair[1:])])]))])


def test_tree_kernel_skips_docs_without_positions():
    """A doc of a positional run may store a count of 0 (a run merged
    from one with positions and one without); a survivor with none has
    no position, wherever it sits in the run."""
    rows = [dict(block=0, term=t, n=2, doc_gaps=encode_doc_gaps([1, 2]),
                 wdfs=varint_encode([1, 1]), doclens=varint_encode([5, 5]),
                 positions=varint_encode(p))
            for t, p in (("a", [1, 3, 0]), ("b", [1, 4, 1, 0]))]
    tbl = pa.Table.from_pylist(rows, schema=SLICE)
    got = S._tree_block_fn(
        [(None, ("pos", "PHRASE", 2, [_t("a"), _t("b")]))], 0.3)(tbl)
    assert got["doc_id"].tolist() == [1]


def _offsetting_pair(col):
    """Two runs of 3 docs each whose ``col`` values hold 4 and 2 entries
    (varints, or docs for positions): the batch's total is right, each
    run is not.  ``wdfs_split`` holds 3 and 3 wdf varints, but the
    first run's bytes end inside the second run's first varint."""
    vals = dict(doc_gaps=[[1, 0, 0], [10, 0, 0]], wdfs=[[2, 2, 2]] * 2,
                doclens=[[5, 5, 5]] * 2, positions=[[1, 7] * 3] * 2)
    if col == "positions":
        vals[col] = [[1, 7] * 4, [1, 7] * 2]
    elif col in vals:
        vals[col] = [vals[col][0] + vals[col][1][:1], vals[col][1][1:]]
    blobs = {c: [varint_encode(v) for v in vs] for c, vs in vals.items()}
    if col == "wdfs_split":
        blobs["wdfs"] = [varint_encode([2, 2, 2]) + b"\x81",
                         b"\x01" + varint_encode([2, 2])]
    rows = [dict(term="t", bucket=0, block=0, first_doc=first, last_doc=last,
                 n=3, block_max_wdf=2, block_min_doclen=5,
                 **{c: b[i] for c, b in blobs.items()})
            for i, (first, last) in enumerate(((1, 3), (10, 12)))]
    return pa.Table.from_pylist(rows, schema=POSTINGS)


@pytest.mark.parametrize("col", ["doc_gaps", "wdfs", "doclens",
                                 "positions", "wdfs_split"])
def test_runs_that_offset_each_other_raise(col):
    """Every run decoder checks each run's count, not only the batch's:
    two runs whose miscounts cancel raise instead of shifting a member
    into the other run."""
    tbl = _offsetting_pair(col)
    reads = {"drop": ("doc_gaps", "wdfs", "doclens", "positions"),
             "termlist": ("doc_gaps", "wdfs"),
             "query": ("doc_gaps", "wdfs", "doclens", "positions")}
    kernels = {
        "drop": lambda: list(B._drop_kernel([2])(iter(tbl.to_batches()))),
        "termlist": lambda: list(B._termlist_kernel()(
            iter(tbl.to_batches()))),
        "query": lambda: S._tree_block_fn(
            [(None, ("pos", "PHRASE", 1, [_t("t")]))], 0.3)(
                tbl.select(SLICE.names[:-1])),
    }
    for name, run in kernels.items():
        if col.split("_split")[0] in reads[name]:
            with pytest.raises(ValueError, match="posting run"):
                run()

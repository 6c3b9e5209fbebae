"""Inverted-index build (SURVEY.md §2.5 A1-A3, §3.1).

Every stage is a checkpointed parquet write, so the build resumes from
the last completed stage (north rule).  Since round 6 the tokenize pass
IS phase 1 of the inversion (VERDICT r05 #1) and everything downstream
derives from its encoded output:

  docs ──tokenize+encode──▶ partials (the checkpoint)
       ├─ group(term, block) + concat-merge ▶ postings
       ├─ decode (vectorized)               ▶ terms (forward termlist)
       ├─ decode (3 narrow cols)            ▶ docstats / globalstats
       └─ group(term) over run metadata     ▶ dict (df, cf, wdf_max)

One stage graph, two executors, both running the same kernels
(``_tokenize_encode_batches``, ``_termlist_kernel``,
``_docstats_kernel``, ``_merge_partial_runs``) and writing the same
layout; ``IndexBuilder.build`` picks one from the input's Catalyst size
estimate (``IndexBuilder.DRIVER_BUILD_BYTES``):

  spark   every arrow is a Spark job (mapInPandas / mapInArrow, a
          shuffle for each group, Spark's parquet writers); the four
          consumers run concurrently from a small thread pool so the
          tiny stages back-fill the postings stage's straggler tail
          (guide §2.6).
  driver  one ``toArrow`` job collects the input; each kernel then runs
          in-process over pyarrow batches, pyarrow sorts and
          ``group_by``s replace the shuffles, and pyarrow writes the
          hive directories Spark would.  A small build is otherwise all
          per-job scheduling.

Which stages a build or resume reruns is decided once, for both
(``IndexBuilder._stale_stages``), and both hand their statistics to the
same globalstats write and manifest commit.  The docs stage is the one
place documents get ids: an input without a ``doc_id`` column is
numbered in its row order (``IndexBuilder._run_stages``).

Nothing tokenizes twice and nothing re-reads a row-per-(doc, term)
staging table — the 68%-of-stage staging re-scan measured at amp1000 in
round 5 is structurally gone.

Index layout under ``<out_dir>/``:

* ``docs/``        forward store, sorted by doc_id (row payload; replaces
                   the reference's ``set_data`` JSON blob, SURVEY.md §1.4)
* ``partials/``    fused tokenize output: per (term, doc-range block,
                   input split) encoded partial posting runs = the
                   resume checkpoint, removed once terms, docstats,
                   dict and postings have committed
* ``terms/``       forward termlist, (term, bucket, doc_id, wdf) per
                   (doc, term) — derived from partials; read by eset,
                   ``get_matching_terms`` and upsert's dict deltas
                   (doclens live in docstats/, positions in postings/)
* ``docstats/``    doc_id -> doclen (sum of wdf incl. Z-stem rows — A3)
* ``globalstats/`` N, total/avg doclen, bounds (A2)
* ``dict/``        per-term df/cf/wdf_max, split by the term's first
                   char (``tpfx=``) (A2)
* ``postings/``    per (term, doc-range block): delta-gap+varint docid
                   run, varint wdfs, varint doclens (denormalized to keep
                   scoring join-free), positions (block-max score bounds
                   are derived at query time from block_max_wdf +
                   block_min_doclen under the current 1/avgdl); split
                   into ``bucket=`` directories by the crc32 term bucket,
                   whose count (``n_buckets``, a power of two up to 64)
                   a build sizes to its input (``IndexBuilder.n_buckets_for``)
* ``manifest.json`` build params, the executor, stage lineage, metrics
                   (docs/sec, postings/sec, skew factor)

Skew strategy: blocks are keyed by *doc-id range* (``doc_id //
block_span``), not by count.  A hot term (df in the billions) therefore
shatters into many independent (term, block) groups — the salted
repartition the north rule asks for, with the salt chosen so that the
final posting runs are already docid-sorted and disjoint: no sorted-merge
pass is needed afterwards, and no Python worker ever materializes more
than ``block_span`` postings of one term.

Inversion is TWO-PHASE: phase 1 encodes partial runs map-side over
doc-disjoint splits (the fused tokenizer emits them directly), phase 2
shuffles one already-encoded row per (term, block, split) — run-length×
fewer rows than postings — and concatenates each group's disjoint runs
with a one-varint bridge patch instead of re-sorting a row per posting.

An upsert runs the same stage graph (``IndexBuilder._run_stages``) as a
new generation ``g``: every stage appends gen-``g`` files beside the
committed ones instead of replacing its directory, and reads back only
gen-``g`` rows.  A compaction runs it as a fresh build whose partials
are the index's committed posting runs less the tombstoned docs
(``PostingRuns``, ``_drop_kernel``): the docs keep their ids, and
nothing is tokenized.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
import zlib
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.fs as pafs
import pyarrow.parquet as pq

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from .codec import EMPTY_POSITIONS, varint_decode_ends

DEFAULT_BLOCK_SPAN = 1 << 16

# Index format history:
#   v2: staging positions ArrayType -> BinaryType (pre-encoded varints)
#   v3: (a) every artifact row carries a ``gen`` column and the manifest
#       lists ``committed_gens`` — visibility is gated on the manifest
#       commit so a crashed upsert leaves only invisible garbage
#       (Iceberg-snapshot semantics, ADVICE r01);
#       (b) posting blocks store ``block_min_doclen`` so block-max
#       bounds are evaluated at query time with the *current* 1/avgdl
#       (stored bounds go stale when an upsert shifts avg_doclen).
#   v4: (a) ``globalstats/`` rows are gen-tagged and append-only like
#       every other artifact, so a crashed upsert can no longer leave
#       on-disk stats describing an uncommitted generation (ADVICE r02);
#       (b) ``dict/`` is partitioned by the term's first byte (``tpfx``)
#       instead of the crc32 bucket: exact lookups prune directories
#       just as well (first chars of the looked-up terms), and prefix/
#       wildcard scans — which could never bucket-prune, because the
#       bucket hashes the *whole* term — now read one directory instead
#       of all of them (VERDICT r02 #7).  First-byte partitioning is a
#       STATIC range partitioning: boundaries never shift across
#       upserts, so appends stay aligned (an equi-depth term range
#       would re-split per build).  The crc32 ``bucket`` survives as a
#       data column (postings stay bucket-partitioned) and spreads the
#       dict write across tasks within a skewed tpfx (e.g. 'Z' stems).
#   v5: the fresh build's resume checkpoint is ``partials/`` (fused
#       tokenize -> phase-1 posting runs, VERDICT r05 #1); ``terms/``
#       (the forward termlist eset/upsert/the xq oracle consume) is
#       DERIVED from it by a vectorized decode instead of being the
#       thing everything re-reads; ``block_max_part`` is written as 0.0
#       (dead since v3 — query-time bounds derive from block_max_wdf +
#       block_min_doclen under the current 1/avgdl).
#   v6: ``block_max_part`` is gone from postings and partials, and
#       upserts write through the build's own stages (gen-tagged
#       partials/ included).  ``compact()`` migrates a v5 index.
#       Later v6 ``terms/`` files drop block/doclen/positions; every
#       reader projects its columns, so older ones stay readable.
FORMAT_VERSION = 6

DOCS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("fullpath", StringType(), True),
    StructField("title", StringType(), True),
    StructField("subtitle", StringType(), True),
    StructField("authors", ArrayType(StringType()), True),
    StructField("date", LongType(), True),
    StructField("tags", ArrayType(StringType()), True),
    StructField("weight", IntegerType(), True),
    StructField("writes", IntegerType(), True),
    StructField("views", IntegerType(), True),
    StructField("body", StringType(), True),
    StructField("sha256", StringType(), True),
])

# the forward termlist, a row per (doc, term).  Each fact is stored
# once: a doc's length is in docstats/, its positions in postings/.
TERMS_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("bucket", IntegerType(), False),
    StructField("doc_id", LongType(), False),
    StructField("wdf", IntegerType(), False),
])

POSTINGS_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("bucket", IntegerType(), False),
    StructField("block", LongType(), False),
    StructField("first_doc", LongType(), False),
    StructField("last_doc", LongType(), False),
    StructField("n", IntegerType(), False),
    StructField("doc_gaps", BinaryType(), False),
    StructField("wdfs", BinaryType(), False),
    StructField("doclens", BinaryType(), False),
    StructField("positions", BinaryType(), True),
    StructField("block_max_wdf", IntegerType(), False),
    StructField("block_min_doclen", IntegerType(), False),
])


def term_bucket(term: str, n_buckets: int) -> int:
    """Stable cross-process term -> bucket hash (partition pruning key)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


SIMPLE_TOKEN_RE = r"[a-z0-9]+"


def simple_terms(body: str):
    """'simple' tokenizer mode: lowercase [a-z0-9]+ runs over the body
    only — no prefixes, no stems.  Deliberately SQL-replicable
    (``regexp_extract_all(lower(text), '[a-z0-9]+')``) so the whole
    index+BM25+top-k pipeline can be cross-checked against an
    independent DuckDB oracle by the driver."""
    import re
    pos = 0
    for tok in re.findall(SIMPLE_TOKEN_RE, (body or "").lower()):
        pos += 1
        yield tok, pos, 1


def _varint(n: int) -> bytes:
    out = bytearray()
    while n >= 128:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _doc_agg(mode: str, cjk_ngram: bool = False):
    """Per-doc tokenizer of the fused tokenize+encode kernel: doc dict
    -> ({term: [wdf, gap-varint posbuf | None, last_pos]}, doclen)."""
    from .tokenize import document_term_rows

    def agg_doc(doc: dict):
        if mode != "simple":
            return document_term_rows(doc, cjk_ngram=cjk_ngram)
        agg: dict = {}
        doclen = 0
        for term, pos, wdf_inc in simple_terms(doc.get("body")):
            doclen += wdf_inc
            ent = agg.get(term)
            if ent is None:
                ent = agg[term] = [wdf_inc, bytearray(), -1]
            else:
                ent[0] += wdf_inc
            v = pos - ent[2] - 1
            ent[2] = pos
            buf = ent[1]
            while v >= 128:
                buf.append((v & 0x7F) | 0x80)
                v >>= 7
            buf.append(v)
        return agg, doclen

    return agg_doc


# the fused tokenize+encode stage's output: partial posting blocks plus
# the per-run wdf sum so the dictionary stage can aggregate (df, cf,
# wdf_max) from these tiny columns without re-scanning term strings
PARTIALS_SCHEMA = StructType(
    POSTINGS_SCHEMA.fields
    + [StructField("sum_wdf", LongType(), False)])

_POSTINGS_COLS = [f.name for f in POSTINGS_SCHEMA.fields]
# the schema of each index directory that has one (upsert's tombstones
# and negative dictionary deltas included), less its ``gen``
_DIR_SCHEMAS = {
    "docs": DOCS_SCHEMA, "partials": PARTIALS_SCHEMA, "terms": TERMS_SCHEMA,
    "postings": POSTINGS_SCHEMA,
    "tombstones": StructType([StructField("doc_id", LongType())]),
    "dict_delta": StructType([StructField(c, t) for c, t in (
        ("term", StringType()), ("bucket", IntegerType()),
        ("ddf", LongType()), ("dcf", LongType()))])}
# the forward-store columns the tokenizer reads: sha256/weight/writes/
# views never reach the tokenize stage (guide §4)
_TOKENIZE_COLS = ["doc_id", "authors", "date", "fullpath", "title",
                  "subtitle", "tags", "body"]


def _tokenize_encode_batches(n_buckets: int, block_span: int,
                             mode: str = "xapian",
                             cjk_ngram: bool = False):
    """FUSED tokenize -> phase-1 encode kernel (VERDICT r05 #1): docs
    rows -> *partial posting block* rows, in ONE Python pass.

    Rounds 2-5 wrote a row-per-(doc, term) staging table and the
    postings stage re-read all of it (68% of that stage at amp1000 was
    parquet->Arrow decode of its own staging input).  Here the per-doc
    aggregation feeds per-term accumulators directly and runs are
    encoded when a doc-range block completes — the JVM
    ``sortWithinPartitions`` disappears (terms are grouped by dict key,
    docs arrive in ascending id order, so every run is born sorted) and
    nothing is ever re-read.

    State is bounded by ONE doc-range block per task (flushed whenever
    ``doc_id // block_span`` advances): accumulators never hold more
    than ``block_span`` docs' postings regardless of partition size.
    Input partitions must cover disjoint doc-id ranges (what the docs
    stage provides) — the same invariant two-phase inversion always
    required; ascending order *within* a partition is verified per doc
    and repaired with a per-term argsort at flush if violated.

    Encoding is whole-column: one LEB128 encode per column per flush,
    sliced per run by byte offsets; positions blobs are concatenations
    of the per-(doc, term) blobs the tokenizer already built.  No score
    bound is stored (query-time bounds derive from ``block_max_wdf`` +
    ``block_min_doclen`` under the *current* 1/avgdl), so the stage
    does not depend on avg_doclen — which is what lets the downstream
    stages run concurrently."""
    import numpy as np

    from .codec import varint_encode_offsets

    agg_doc = _doc_agg(mode, cjk_ngram)
    names = [f.name for f in PARTIALS_SCHEMA.fields]

    def flush(state: dict, blk: int, sorted_ok: bool):
        if not state:
            return None
        terms_sorted = sorted(state)
        if not sorted_ok:
            for t in terms_sorted:
                ids_l, wdf_l, dl_l, blobs = state[t]
                order = np.argsort(np.asarray(ids_l, dtype=np.int64),
                                   kind="stable")
                state[t] = ([ids_l[i] for i in order],
                            [wdf_l[i] for i in order],
                            [dl_l[i] for i in order],
                            [blobs[i] for i in order])
        lens = np.fromiter((len(state[t][0]) for t in terms_sorted),
                           dtype=np.int64, count=len(terms_sorted))
        bounds = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=bounds[1:])
        gstarts, gends = bounds[:-1], bounds[1:]
        total = int(bounds[-1])
        ids = np.empty(total, dtype=np.int64)
        wdfs = np.empty(total, dtype=np.int64)
        dls = np.empty(total, dtype=np.int64)
        off = 0
        for t in terms_sorted:
            ids_l, wdf_l, dl_l, _ = state[t]
            n = len(ids_l)
            ids[off:off + n] = ids_l
            wdfs[off:off + n] = wdf_l
            dls[off:off + n] = dl_l
            off += n
        gaps = ids.copy()
        gaps[1:] -= ids[:-1] + 1
        gaps[gstarts] = ids[gstarts]
        buf_g, off_g = varint_encode_offsets(gaps)
        buf_w, off_w = varint_encode_offsets(wdfs)
        buf_d, off_d = varint_encode_offsets(dls)
        pos_out = []
        for t in terms_sorted:
            blobs = state[t][3]
            if all(b is None for b in blobs):
                pos_out.append(None)
            else:
                pos_out.append(b"".join(
                    b if b is not None else EMPTY_POSITIONS
                    for b in blobs))
        return pd.DataFrame({
            "term": terms_sorted,
            "bucket": np.fromiter(
                (term_bucket(t, n_buckets) for t in terms_sorted),
                dtype=np.int32, count=len(terms_sorted)),
            "block": np.full(len(terms_sorted), blk, dtype=np.int64),
            "first_doc": ids[gstarts],
            "last_doc": ids[gends - 1],
            "n": lens.astype(np.int32),
            "doc_gaps": [bytes(buf_g[off_g[s]:off_g[e]])
                         for s, e in zip(gstarts, gends)],
            "wdfs": [bytes(buf_w[off_w[s]:off_w[e]])
                     for s, e in zip(gstarts, gends)],
            "doclens": [bytes(buf_d[off_d[s]:off_d[e]])
                        for s, e in zip(gstarts, gends)],
            "positions": pos_out,
            "block_max_wdf": np.maximum.reduceat(
                wdfs, gstarts).astype(np.int32),
            "block_min_doclen": np.minimum.reduceat(
                dls, gstarts).astype(np.int32),
            "sum_wdf": np.add.reduceat(wdfs, gstarts),
        }, columns=names)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict = {}
        cur_block = None
        prev_doc = None
        sorted_ok = True
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                doc = row._asdict()
                did = int(doc["doc_id"])
                blk = did // block_span
                if cur_block is not None and blk != cur_block:
                    out = flush(state, cur_block, sorted_ok)
                    if out is not None:
                        yield out
                    state = {}
                    prev_doc = None
                    sorted_ok = True
                cur_block = blk
                if prev_doc is not None and did <= prev_doc:
                    sorted_ok = False
                prev_doc = did
                agg, doclen = agg_doc(doc)
                for term, ent in agg.items():
                    wdf = ent[0]
                    buf = ent[1]
                    blob = (_varint(wdf) + bytes(buf)
                            if buf is not None else None)
                    st = state.get(term)
                    if st is None:
                        state[term] = ([did], [wdf], [doclen], [blob])
                    else:
                        st[0].append(did)
                        st[1].append(wdf)
                        st[2].append(doclen)
                        st[3].append(blob)
        if cur_block is not None:
            out = flush(state, cur_block, sorted_ok)
            if out is not None:
                yield out

    return fn


def _offsets(lens: np.ndarray) -> np.ndarray:
    """``[0, lens[0], lens[0] + lens[1], ...]``: the bounds of
    consecutive spans of these lengths."""
    out = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=out[1:])
    return out


def _binary_view(arr) -> tuple:
    """``(offsets, data)`` of a binary Arrow array, as numpy views of its
    buffers: value i is ``data[offsets[i]:offsets[i + 1]]`` (empty when
    null), and the values of a slice are contiguous in ``data``."""
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset: arr.offset + len(arr) + 1]
    buf = arr.buffers()[2]
    data = np.frombuffer(buf, dtype=np.uint8) if buf is not None \
        else np.empty(0, dtype=np.uint8)
    return offs, data


def _binary(data, offsets: np.ndarray,
            valid: Optional[np.ndarray] = None) -> pa.Array:
    """A binary Arrow array over ``data`` whose value i is the span
    ``offsets[i]:offsets[i + 1]``, null where ``valid`` is False."""
    bitmap = None if valid is None else pa.py_buffer(
        np.packbits(valid, bitorder="little"))
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [bitmap, pa.py_buffer(np.asarray(offsets, dtype=np.int32)),
         pa.py_buffer(np.ascontiguousarray(data, dtype=np.uint8))])


def _gather(data: np.ndarray, starts: np.ndarray,
            lens: np.ndarray) -> np.ndarray:
    """The spans ``data[starts[i]: starts[i] + lens[i]]``, concatenated
    in order, with one fancy index."""
    idx = np.arange(int(lens.sum()), dtype=np.int64)
    if len(idx):
        idx -= np.repeat(_offsets(lens)[:-1] - starts, lens)
    return data[idx]


def _run_varints(arr) -> tuple:
    """``(stream, vals, at, rel)`` of a binary column of posting runs:
    the bytes of its non-null values (contiguous in its values buffer),
    their varints, the byte where each varint starts (and the stream's
    end), and the byte where each run starts (and the last ends)."""
    offs, data = _binary_view(arr)
    stream = data[offs[0]: offs[-1]]
    vals, ends = varint_decode_ends(stream)
    return stream, vals, np.concatenate(([0], ends + 1)), offs - offs[0]


def _check_runs(at: np.ndarray, rel: np.ndarray, first: np.ndarray,
                what: str) -> None:
    """Raise ``ValueError`` unless run r's bytes start where its first
    varint ``first[r]`` starts (``first[-1]``, past the last run, is the
    varint count): then no run's bytes split a varint or hold another
    run's values, which a check of the batch's total cannot tell."""
    if first[-1] >= len(at) or (at[first] != rel).any():
        raise ValueError(f"a posting run's {what} do not hold its n "
                         f"{'docs' if what == 'positions' else 'values'}")


def _undelta(gaps: np.ndarray, ns: np.ndarray) -> np.ndarray:
    """The values of consecutive non-empty runs of ``ns`` values stored
    as gaps (a run's first value absolute, then ``value - previous -
    1``): one cumsum, restarted at each run's first value."""
    starts = _offsets(ns)[:-1]
    adj = gaps + 1
    adj[starts] = gaps[starts]
    cs = np.cumsum(adj)
    return cs - np.repeat(cs[starts] - gaps[starts], ns)


def _decode_runs(batch, *cols: str):
    """The members of a batch of posting runs, decoded whole: ``(n per
    run, doc ids, values of each varint column in cols)``.  A binary
    column's non-null values are contiguous in its values buffer, so
    each column is one varint decode over a view of that buffer, and
    the doc ids are one cumsum of the gaps (``_undelta``).  A run whose
    bytes in any column do not hold exactly its ``n`` varints raises
    ``ValueError``, so no member slips into the next run."""
    ns = batch.column("n").to_numpy().astype(np.int64)
    first = _offsets(ns)

    def values(col):
        _, vals, at, rel = _run_varints(batch.column(col))
        _check_runs(at, rel, first, col)
        return vals.astype(np.int64)

    return (ns, _undelta(values("doc_gaps"), ns),
            *(values(c) for c in cols))


def _count_slots(vals: np.ndarray, n: int) -> np.ndarray:
    """The indices in ``vals`` of the count varints of a positions
    stream of ``n`` docs, each stored as ``varint(count)`` and then
    ``count`` gap varints: slot 0 holds a count, and a count c at slot i
    puts the next one at i + 1 + c.  That chain is followed by pointer
    doubling, ``log2 n`` vectorized passes over the stream, not a step
    per doc.  A stream that does not hold exactly ``n`` docs raises
    ``ValueError``."""
    size = len(vals)
    jump = np.arange(1, size + 2, dtype=np.int64)
    jump[:size] += np.minimum(vals, size).astype(np.int64)
    np.minimum(jump, size, out=jump)  # slot ``size`` is the end
    slots = np.zeros(min(n, 1), dtype=np.int64)
    while len(slots) < n:
        slots = np.concatenate((slots, jump[slots]))
        jump = jump[jump]
    slots = slots[:n]
    end = int(slots[-1]) + 1 + int(vals[slots[-1]]) \
        if n and slots[-1] < size else 0
    if end != size:
        raise ValueError(f"positions stream of {size} varints does not "
                         f"hold {n} docs")
    return slots


def _position_slots(parr: pa.Array, ns: np.ndarray) -> tuple:
    """The ``positions`` of a batch of posting runs, decoded whole:
    ``(stream, at, vals, cnt, slot)``: the non-null values' bytes, the
    byte where each varint starts (and the stream's end), the varints,
    and per member its position count and the index in ``vals`` of its
    count varint (``_count_slots``); a member of a null run has count 0.
    A run whose values do not hold exactly its ``n`` docs raises
    ``ValueError``."""
    valid = pc.is_valid(parr).to_numpy(zero_copy_only=False)
    stream, vals, at, rel = _run_varints(parr)
    has = np.repeat(valid, ns)
    slots = _count_slots(vals, int(has.sum()))
    _check_runs(at, np.append(rel[:-1][valid], rel[-1]),
                np.append(slots[_offsets(ns[valid])[:-1]], len(vals)),
                "positions")
    cnt = np.zeros(len(has), dtype=np.int64)
    cnt[has] = vals[slots].astype(np.int64)
    slot = np.zeros(len(has), dtype=np.int64)
    slot[has] = slots
    return stream, at, vals, cnt, slot


def _rebucket(terms: pa.Array, n_buckets: int) -> pa.Array:
    """``term_bucket`` of each term, hashed once per distinct term."""
    enc = pc.dictionary_encode(terms)
    per = np.fromiter((term_bucket(t, n_buckets)
                       for t in enc.dictionary.to_pylist()),
                      dtype=np.int32, count=len(enc.dictionary))
    return pa.array(per[enc.indices.to_numpy()])


def _drop_positions(parr: pa.Array, ns: np.ndarray, run: np.ndarray,
                    keep: np.ndarray, live: np.ndarray) -> pa.Array:
    """The ``positions`` of the runs ``live`` holding only the members
    ``keep`` marks.  The stream is decoded once; each member's byte span
    is its count varint and that many gap varints, found from the counts
    (``_count_slots``), and the kept spans are gathered in one pass.  A
    run none of whose kept members has a position comes out null, as the
    tokenizer writes a run none of whose docs has one."""
    if parr.null_count == len(parr):
        return pa.nulls(len(live), pa.binary())
    stream, at, _, cnt, slot = _position_slots(parr, ns)
    start = at[slot]
    span = at[slot + 1 + cnt] - start
    positional = np.bincount(run[keep], weights=cnt[keep],
                             minlength=len(ns)) > 0
    use = keep & positional[run]  # a null value spans no byte
    run_bytes = np.bincount(run[use], weights=span[use],
                            minlength=len(ns))[live].astype(np.int64)
    return _binary(_gather(stream, start[use], span[use]),
                   _offsets(run_bytes), positional[live])


def _drop_kernel(dead, n_buckets: Optional[int] = None):
    """mapInArrow kernel of compaction: committed posting rows (the
    ``_POSTINGS_COLS``) -> partial runs (PARTIALS_SCHEMA) of the same
    postings less the docs whose ids ``dead`` holds, so compaction merges
    the index's own encoded runs and never tokenizes.  Per batch:

    * doc gaps, wdfs and doclens are decoded with one varint decode
      per column (``_decode_runs``), dead members masked out, and runs
      left empty dropped;
    * each column is re-encoded whole with ``varint_encode_offsets``
      and sliced per run by offset; positions are sliced by byte span
      (``_drop_positions``, from ``_position_slots``);
    * ``n``, ``first_doc``, ``last_doc``, ``block_max_wdf``,
      ``block_min_doclen`` and ``sum_wdf`` are recomputed from the kept
      members;
    * given ``n_buckets``, the term bucket is recomputed for that count.

    A batch with no dead member keeps its encoded columns as they are.
    Doc ids, and so doc-range blocks, are unchanged."""
    from .codec import varint_encode_offsets

    dead = np.asarray(dead, dtype=np.int64)
    schema = to_arrow_schema(PARTIALS_SCHEMA)

    def drop(batch) -> pa.RecordBatch:
        ns, ids, wdfs, dls = _decode_runs(batch, "wdfs", "doclens")
        keep = ~np.isin(ids, dead)
        if keep.all():
            cols = [batch.column(c) for c in _POSTINGS_COLS]
            cols.append(pa.array(np.add.reduceat(wdfs, _offsets(ns)[:-1])))
        else:
            run = np.repeat(np.arange(len(ns)), ns)
            kept = np.bincount(run[keep], minlength=len(ns))
            live = np.flatnonzero(kept)
            ids, wdfs, dls = ids[keep], wdfs[keep], dls[keep]
            bounds = _offsets(kept[live])
            first = bounds[:-1]
            gaps = ids.copy()
            gaps[1:] -= ids[:-1] + 1
            gaps[first] = ids[first]

            def encoded(vals):
                buf, off = varint_encode_offsets(vals)
                return _binary(np.frombuffer(buf, dtype=np.uint8),
                               off[bounds])

            take = pa.array(live)
            cols = [batch.column(c).take(take)
                    for c in ("term", "bucket", "block")]
            cols += [
                pa.array(ids[first]), pa.array(ids[bounds[1:] - 1]),
                pa.array(kept[live].astype(np.int32)),
                encoded(gaps), encoded(wdfs), encoded(dls),
                _drop_positions(batch.column("positions"), ns, run, keep,
                                live),
                pa.array(np.maximum.reduceat(wdfs, first).astype(np.int32)),
                pa.array(np.minimum.reduceat(dls, first).astype(np.int32)),
                pa.array(np.add.reduceat(wdfs, first)),
            ]
        if n_buckets is not None:
            cols[1] = _rebucket(cols[0], n_buckets)
        return pa.RecordBatch.from_arrays(
            [c.cast(f.type) for c, f in zip(cols, schema)], schema=schema)

    def fn(batches) -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            if batch.num_rows:
                out = drop(batch)
                if out.num_rows:
                    yield out

    return fn


def _termlist_kernel():
    """mapInArrow kernel deriving the forward termlist out of partial
    posting rows with no per-posting Python: ``_decode_runs`` decodes
    the doc ids and wdfs, and one ``take`` with repeated indices
    spreads each run's term and bucket over its members."""
    out_schema = pa.schema([
        ("term", pa.string()), ("bucket", pa.int32()),
        ("doc_id", pa.int64()), ("wdf", pa.int32()),
    ])

    def fn(batches) -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            if not batch.num_rows:
                continue
            ns, ids, wdfs = _decode_runs(batch, "wdfs")
            idx = pa.array(np.repeat(np.arange(len(ns)), ns), pa.int64())
            yield pa.RecordBatch.from_arrays([
                batch.column("term").take(idx),
                batch.column("bucket").take(idx),
                pa.array(ids, pa.int64()),
                pa.array(wdfs.astype(np.int32)),
            ], schema=out_schema)

    return fn


def _docstats_kernel():
    """mapInArrow kernel: partial posting rows -> distinct (doc_id,
    doclen) pairs per batch (the doclen is denormalized identically on
    every posting of a doc, so a batch-local unique is exact input to
    the downstream groupBy-max).  Touches only the 3 narrow columns —
    term strings and position blobs never reach this stage."""
    def fn(batches) -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            if not batch.num_rows:
                continue
            _, ids, dls = _decode_runs(batch, "doclens")
            uniq, idx = np.unique(ids, return_index=True)
            yield pa.record_batch(
                [pa.array(uniq), pa.array(dls[idx].astype(np.int32))],
                names=["doc_id", "doclen"])

    return fn


def _merge_partial_runs():
    """mapInArrow kernel over partitions sorted by (term, block,
    first_doc): folds the map-side partial runs of each (term, block)
    group into one posting block row.

    The partials of one group come from distinct input splits, each
    covering a disjoint contiguous doc-id range — so sorted by
    first_doc they are disjoint, ordered, already-encoded byte runs and
    the merge is CONCATENATION: wdf/doclen/position buffers join as-is,
    and only the first doc-gap varint of each non-leading run (stored
    as the absolute first_doc) is re-encoded as the bridge gap from the
    previous run's last_doc.  Maxima/minima combine with max/min (both
    sides are exact over their docs).  No decode, no row sort — this is
    what replaces the 0.56-efficiency reduce-side sort of one row per
    posting (VERDICT r04 #1).

    Single-partial groups (the common case once splits are large) are
    emitted with one vectorized ``Table.take`` per batch, and groups of
    several runs (a compaction's generations, a Spark build's splits)
    are concatenated whole: every column is one gather of byte spans,
    and the bridge gaps are one ``varint_encode_offsets`` — no
    per-group Python.  Should two partials of a group ever OVERLAP in
    doc range (the docs stage writes doc-range-disjoint files, but
    Spark's split planner may pack several into one task), the group's
    rows pass through unmerged — the query kernels already merge multiple rows per
    (term, block) correctly (they handle gen-interleaved upsert runs
    the same way), so correctness never depends on the disjointness
    invariant."""
    from .codec import varint_encode_offsets

    names = [f.name for f in POSTINGS_SCHEMA.fields]
    # one pinned Arrow schema for BOTH output paths: the take-based
    # pass-through would otherwise inherit the input batch schema,
    # which need not byte-match the Python-built batches' (Arrow IPC
    # rejects a writer receiving two different schemas)
    out_schema = pa.schema([
        ("term", pa.string()), ("bucket", pa.int32()),
        ("block", pa.int64()), ("first_doc", pa.int64()),
        ("last_doc", pa.int64()), ("n", pa.int32()),
        ("doc_gaps", pa.binary()), ("wdfs", pa.binary()),
        ("doclens", pa.binary()), ("positions", pa.binary()),
        ("block_max_wdf", pa.int32()), ("block_min_doclen", pa.int32()),
    ])

    def take_batch(tbl, idx):
        return (tbl.select(names).take(pa.array(idx))
                .cast(out_schema).combine_chunks().to_batches()[0])

    def concat(tbl: pa.Table, s: np.ndarray, e: np.ndarray):
        """One row per group of rows ``[s[g], e[g])``, whose runs are
        disjoint and ordered by first_doc: their concatenation."""
        sizes = e - s
        bounds = _offsets(sizes)  # each group's entries in rows
        grp = bounds[:-1]
        rows = np.arange(bounds[-1], dtype=np.int64) + np.repeat(
            s - grp, sizes)
        lead = np.zeros(len(rows), dtype=bool)
        lead[grp] = True

        def col(name):
            return tbl.column(name).to_numpy()[rows]

        def spans(name):
            """The column's bytes, each group's rows concatenated."""
            off, data = _binary_view(tbl.column(name).combine_chunks())
            return _binary(_gather(data, off[s], off[e] - off[s]),
                           _offsets(off[e] - off[s]))

        firsts, lasts, ns = col("first_doc"), col("last_doc"), col("n")
        # doc gaps: a non-leading run's first varint (its absolute
        # first_doc) gives way to the bridge gap from the previous run's
        # last_doc.  Pieces, in order: the bridge (empty for a leading
        # run), then the run's bytes from its second varint (from its
        # first for a leading run)
        off, data = _binary_view(tbl.column("doc_gaps").combine_chunks())
        ends = np.flatnonzero(data < 128)
        skip = ends[np.searchsorted(ends, off[rows])] + 1 - off[rows]
        skip[lead] = 0
        bridge = firsts[1:] - lasts[:-1] - 1
        bbuf, boff = varint_encode_offsets(bridge[~lead[1:]])
        blen = np.zeros(len(rows), dtype=np.int64)
        blen[~lead] = np.diff(boff)
        bstart = np.zeros(len(rows), dtype=np.int64)
        bstart[~lead] = len(data) + boff[:-1]
        pieces = np.stack([bstart, off[rows] + skip], axis=1).ravel()
        plens = np.stack([blen, off[rows + 1] - off[rows] - skip],
                         axis=1).ravel()
        src = np.concatenate((data, np.frombuffer(bbuf, dtype=np.uint8)))
        row_bytes = plens.reshape(-1, 2).sum(axis=1)
        gaps = _binary(_gather(src, pieces, plens),
                       _offsets(np.add.reduceat(row_bytes, grp)))
        # positions: a null run stands for n empty lists (one zero
        # count each) beside positional runs; a group of null runs only
        # stays null
        parr = tbl.column("positions").combine_chunks()
        pnull = pc.is_null(parr).to_numpy(zero_copy_only=False)[rows]
        positional = ~np.logical_and.reduceat(pnull, grp)
        off, data = _binary_view(parr)
        plen = np.where(pnull, ns, off[rows + 1] - off[rows])
        plen[~np.repeat(positional, sizes)] = 0  # nor here
        pstart = np.where(pnull, len(data), off[rows])
        src = np.concatenate((data, np.zeros(int(ns.max()), np.uint8)))
        positions = _binary(_gather(src, pstart, plen),
                            _offsets(np.add.reduceat(plen, grp)), positional)
        return pa.RecordBatch.from_arrays([
            tbl.column("term").take(pa.array(s)).combine_chunks(),
            pa.array(tbl.column("bucket").to_numpy()[s]),
            pa.array(tbl.column("block").to_numpy()[s]),
            pa.array(firsts[grp]), pa.array(lasts[bounds[1:] - 1]),
            pa.array(np.add.reduceat(ns, grp)),
            gaps, spans("wdfs"), spans("doclens"), positions,
            pa.array(np.maximum.reduceat(col("block_max_wdf"), grp)),
            pa.array(np.minimum.reduceat(col("block_min_doclen"), grp)),
        ], schema=out_schema)

    def merge_table(tbl: pa.Table, gstarts: np.ndarray,
                    gends: np.ndarray):
        sizes = gends - gstarts
        single = sizes == 1
        out_batches = []
        if single.any():
            out_batches.append(take_batch(tbl, gstarts[single]))
        multi = np.flatnonzero(~single)
        if len(multi) == 0:
            return out_batches
        # a group whose runs overlap in doc range passes through
        grp = np.repeat(np.arange(len(sizes)), sizes)
        firsts = tbl.column("first_doc").to_numpy()[:len(grp)]
        lasts = tbl.column("last_doc").to_numpy()[:len(grp)]
        clash = (firsts[1:] <= lasts[:-1]) & (grp[1:] == grp[:-1])
        overlap = np.zeros(len(sizes), dtype=bool)
        overlap[grp[1:][clash]] = True
        over, merged = multi[overlap[multi]], multi[~overlap[multi]]
        if len(over):
            out_batches.append(take_batch(tbl, np.concatenate(
                [np.arange(gstarts[g], gends[g]) for g in over])))
        if len(merged):
            out_batches.append(concat(tbl.select(names),
                                      gstarts[merged], gends[merged]))
        return out_batches

    def fn(batches) -> "Iterator[pa.RecordBatch]":
        leftover: Optional[pa.Table] = None
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if leftover is not None:
                tbl = pa.concat_tables([leftover, tbl]).combine_chunks()
                leftover = None
            n = tbl.num_rows
            if n == 0:
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
            yield from merge_table(
                leftover, np.array([0]),
                np.array([leftover.num_rows]))

    return fn


def merge_partials(partials: DataFrame,
                   num_partitions: Optional[int] = None) -> DataFrame:
    """Phase 2 of the two-phase inversion: shuffle partial posting rows
    on (term, block) and concatenate each group's disjoint runs
    (``_merge_partial_runs``) — the Spark executor's postings stage."""
    args = [num_partitions] if num_partitions else []
    return (partials.repartition(*args, "term", "block")
            .sortWithinPartitions("term", "block", "first_doc")
            .mapInArrow(_merge_partial_runs(), schema=POSTINGS_SCHEMA))


def _stage_done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _stamp(path: str, layout: dict) -> None:
    """Record beside a finished stage's ``_SUCCESS`` the layout it was
    written with (``IndexBuilder._layout``), in a ``_LAYOUT`` file that
    readers skip, as they skip ``_SUCCESS``.  A build's overwrite
    removes it with the directory; an upsert's append, which rewrites
    ``_SUCCESS``, leaves it.  A write cut short leaves no JSON object
    ``_stamp_of`` can parse, so the stage reruns."""
    with open(os.path.join(path, "_LAYOUT"), "w") as f:
        json.dump(layout, f)


def _stamp_of(path: str) -> Optional[dict]:
    """The layout ``_stamp`` recorded for the stage at ``path``; None
    when there is none."""
    try:
        with open(os.path.join(path, "_LAYOUT")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _stage_current(path: str, required_cols: tuple = (),
                   build_rows: bool = False) -> bool:
    """A staged output is resumable only if it was written by the
    current format: every v3 artifact carries a ``gen`` column, and v5
    partials carry ``sum_wdf``.  Resuming an older stage with current
    code would crash or silently corrupt (ADVICE r01), so a stale stage
    is rebuilt instead.  The schema comes from a parquet footer
    (pyarrow), so the check runs no Spark job; a missing or unreadable
    stage is stale.
    ``build_rows``: the output must also hold rows of the build's
    generation 0 — a ``partials/`` that an upsert cut short left behind
    holds its own generation's rows only, and resuming the build's
    consumers from it would commit them empty."""
    try:
        dset = pads.dataset(path, format="parquet")
        schema = dset.schema
    except (OSError, pa.ArrowInvalid):
        return False
    names = schema.names
    if "gen" not in names:
        return False
    for c in required_cols:
        if c not in names:
            return False
    if build_rows and not dset.scanner(
            columns=["gen"], filter=pc.field("gen") == 0).head(1).num_rows:
        return False
    return True


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _d, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# -- driver executor: parquet layout helpers ---------------------------------

# The driver executor's parquet files: Spark's codec and level (zstd 3),
# no Arrow schema blob in the footer (Spark writes none, and a reader
# must see the same types whichever executor wrote a file), and min/max
# statistics only on the sort/key columns readers prune on.  With
# pyarrow's defaults the index came out 8% larger than Spark's.
_PARQUET_OPTS = {"compression": "zstd", "compression_level": 3,
                 "store_schema": False}
# row groups of about this many in-memory bytes, each with min/max
# statistics on its sorted key columns.  The driver's probes (fetch's
# doc_id, the posting and dictionary terms) filter with ``isin``, on
# which pyarrow skips no row group of a key range: they prune hive
# directories only
_ROW_GROUP_BYTES = 1 << 20
# Arrow batch size fed to the stage kernels, as Spark's
# ``spark.sql.execution.arrow.maxRecordsPerBatch`` does
_DRIVER_BATCH_ROWS = 16384

def _hive_parts(spark: SparkSession, tbl: pa.Table, col: str,
                keys: list) -> dict:
    """``tbl`` split on ``keys`` (one partition value per row, equal
    values adjacent) into ``{hive dir: rows}``; ``col`` itself is left
    out of the rows, as Spark leaves it out of the files.  Each
    directory is named by Spark's own ``partitionBy`` rule
    (``ExternalCatalogUtils.getPartitionPathString``, called through
    py4j once per distinct value; no job runs), so Spark scans,
    upsert's ``partitionBy`` appends and ``fold_dict_deltas`` see the
    same partitions whichever executor wrote them."""
    name = (spark._jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.getPartitionPathString)
    body = tbl.drop_columns([col]) if col in tbl.column_names else tbl
    cuts = [0] + [i for i in range(1, len(keys))
                  if keys[i] != keys[i - 1]] + [len(keys)]
    return {name(col, None if keys[a] is None else str(keys[a])):
            body.slice(a, b - a) for a, b in zip(cuts, cuts[1:]) if b > a}


def _write_stage(path: str, parts: dict, stats: list, gen: int = 0) -> None:
    """Write one parquet file per ``parts`` entry (key: a hive
    sub-directory, or "" for ``path`` itself) and mark the stage
    complete with ``_SUCCESS`` last — the layout and the completion rule
    of Spark's ``write.partitionBy(...).parquet``.  Generation 0 (a
    build) replaces ``path``, as ``mode("overwrite")`` does; a later
    generation (an upsert) adds uniquely named files beside the
    committed ones and removes nothing, as ``mode("append")`` does.
    Each file is written under a dot-prefixed name, which Spark and
    pyarrow readers skip, and renamed into place only once complete, so
    a write cut short in a live directory leaves no truncated file that
    a reader would fail on — the role ``_temporary/`` plays in Spark's
    committer."""
    if gen == 0 and os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    for sub, tbl in parts.items():
        d = os.path.join(path, sub)
        os.makedirs(d, exist_ok=True)
        rows = max(1, tbl.num_rows * _ROW_GROUP_BYTES // max(tbl.nbytes, 1))
        name = f"part-00000-{uuid.uuid4()}.c000.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(
            tbl, tmp, row_group_size=rows,
            write_statistics=[c for c in stats if c in tbl.column_names],
            **_PARQUET_OPTS)
        os.replace(tmp, os.path.join(d, name))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _with_gen(tbl: pa.Table, gen: int = 0) -> pa.Table:
    return tbl.append_column(
        "gen", pa.array(np.full(tbl.num_rows, gen, dtype=np.int32)))


# the doc_id a docs stage prepends to an un-numbered input
_DOC_ID_FIELD = pa.field("doc_id", pa.int64(), nullable=False)


def _doc_shape(df: DataFrame) -> DataFrame:
    """Project ``df`` to DOCS_SCHEMA's column order and types; a frame
    without ``doc_id`` stays without it, for the docs stage to number."""
    return df.select(*[F.col(f.name).cast(f.dataType)
                       for f in DOCS_SCHEMA.fields
                       if f.name != "doc_id" or "doc_id" in df.columns])


def _dense_ids(df: DataFrame, first: int) -> DataFrame:
    """``df`` with ``doc_id = first, first + 1, ...`` prepended in its
    row order, without collecting a row:

    1. ``localCheckpoint`` pins the partitions, so the counting job and
       the consuming job see the same rows in the same places (an
       ``orderBy``'s sampled range bounds could differ between two runs
       of its plan);
    2. one small aggregation collects the per-partition row counts;
    3. an Arrow kernel prepends ``partition offset + arange`` per batch.

    The output keeps ``df``'s partitions, so an ordered input comes out
    clustered by id.  On a multi-executor cluster, swap the
    (non-replicated) ``localCheckpoint`` for ``checkpoint()`` against a
    reliable directory if executor loss must be survivable."""
    pinned = df.localCheckpoint().withColumn("_pid", F.spark_partition_id())
    offsets, acc = {}, int(first)
    for pid, n in sorted(tuple(r) for r in
                         pinned.groupBy("_pid").count().collect()):
        offsets[pid] = acc
        acc += n
    out_schema = StructType([DOCS_SCHEMA["doc_id"], *df.schema.fields])

    def assign(batches) -> "Iterator[pa.RecordBatch]":
        next_id = None
        for batch in batches:
            if not batch.num_rows:
                continue
            if next_id is None:
                next_id = offsets[batch.column("_pid")[0].as_py()]
            ids = np.arange(next_id, next_id + batch.num_rows, dtype=np.int64)
            next_id += batch.num_rows
            rest = batch.drop_columns(["_pid"])
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), *rest.columns],
                schema=rest.schema.insert(0, _DOC_ID_FIELD))

    return pinned.mapInArrow(assign, schema=out_schema)


def _table(batches: list, schema: StructType) -> pa.Table:
    """A kernel's output batches as one table; typed from ``schema``
    when the kernel yielded nothing."""
    if batches:
        return pa.Table.from_batches(batches)
    return to_arrow_schema(schema).empty_table()


# the hive directories of an index: the dictionary's first-byte
# ``tpfx=`` and the postings' ``bucket=``.  Other directories read them
# as null, and the dictionary's data column ``bucket`` reads as itself
_HIVE = pads.partitioning(pa.schema([("tpfx", pa.string()),
                                     ("bucket", pa.int32())]),
                          flavor="hive")


def _read_table(path: str, columns: Optional[list] = None,
                gens: Optional[list] = None,
                where: Optional[pc.Expression] = None,
                partitioning=None) -> pa.Table:
    """The rows of the parquet files under ``path`` (hive directories
    included; their keys are columns only given ``partitioning``) whose
    ``gen`` is in ``gens`` (all rows when None) and that pass ``where``,
    a filter pushed into the scan."""
    if gens is not None:
        gen_in = pc.field("gen").isin(gens)
        where = gen_in if where is None else where & gen_in
    return pads.dataset(path, format="parquet",
                        partitioning=partitioning).to_table(
        columns=columns, filter=where)


# -- index locations and readers ---------------------------------------------

def _local_path(location: str) -> Optional[str]:
    """The local path of a plain path or a ``file:`` URI (its path taken
    literally, as Hadoop takes it); None for a URI of another scheme."""
    if location.startswith("file:"):
        return re.sub(r"^file:(//[^/]*)?", "", location)
    return None if re.match(r"[A-Za-z][A-Za-z0-9+.-]*://", location) \
        else location


def local_dir(location: str) -> str:
    """The local directory of an index location that is written to.
    Writers keep the index on the local filesystem, so any scheme but
    ``file:`` raises ``ValueError`` before anything is written."""
    path = _local_path(location.rstrip("/"))
    if path is None:
        raise ValueError(f"cannot write an index at {location!r}: writers "
                         f"take a local path or a file: URI")
    return path


def index_fs(location: str) -> tuple:
    """``(pyarrow filesystem, path)`` of an index location that is read:
    the local filesystem for a plain path or ``file:`` URI, else the
    filesystem the URI names."""
    path = _local_path(location)
    if path is not None:
        return pafs.LocalFileSystem(), os.path.abspath(path)
    return pafs.FileSystem.from_uri(location)


def read_index_dir(spark: SparkSession, location: str, rel: str,
                   gens: Optional[list]) -> DataFrame:
    """The rows of ``<location>/<rel>`` whose ``gen`` is in ``gens``
    (every row when None): the one Spark read of an index directory,
    given the directory's schema where one is defined.  Hadoop globs a
    read path, so its metacharacters are escaped (Spark then logs a
    harmless FileNotFoundException from its ``_spark_metadata`` probe
    of the escaped name)."""
    path = "".join("\\" + c if c in "\\[]{}*?" else c
                   for c in f"{location.rstrip('/')}/{rel}")
    schema = _DIR_SCHEMAS.get(rel)
    reader = spark.read if schema is None else spark.read.schema(
        StructType(schema.fields + [StructField("gen", IntegerType())]))
    df = reader.parquet(path)
    return df if gens is None else df.filter(F.col("gen").isin(list(gens)))


def _gstats_of(docstats: pa.Table) -> dict:
    """The collection statistics the docstats stage's Observation
    records, from a (doc_id, doclen) table."""
    dl = docstats.column("doclen")
    n = docstats.num_rows
    g = {"n_docs": n,
         "total_doclen": pc.sum(dl).as_py(),
         "doclen_lb": pc.min(dl).as_py(),
         "doclen_ub": pc.max(dl).as_py(),
         "max_doc_id": pc.max(docstats.column("doc_id")).as_py()}
    g["avg_doclen"] = g["total_doclen"] / n if n else 0.0
    return g


def _dict_stats_of(d: pa.Table) -> dict:
    """The dictionary stage's Observation aggregates, from its rows."""
    df = d.column("df")
    return {"n_postings": pc.sum(df).as_py(), "max_df": pc.max(df).as_py(),
            "avg_df": pc.mean(df).as_py(), "n_terms": d.num_rows}


def _write_globalstats(path: str, gstats: dict, gen: int = 0) -> None:
    """The 1-row ``globalstats/`` file of generation ``gen``, written
    driver-side with pyarrow by both executors and by upserts — a Spark
    job for a single row costs ~1.5 s of pure scheduling at any scale.
    Readers take the row of the highest committed gen."""
    tbl = pa.table({
        "n_docs": pa.array([gstats.get("n_docs")], pa.int64()),
        "total_doclen": pa.array([gstats.get("total_doclen")], pa.int64()),
        "doclen_lb": pa.array([gstats.get("doclen_lb")], pa.int32()),
        "doclen_ub": pa.array([gstats.get("doclen_ub")], pa.int32()),
        "max_doc_id": pa.array([gstats.get("max_doc_id")], pa.int64()),
        "avg_doclen": pa.array([gstats.get("avg_doclen")], pa.float64()),
        "gen": pa.array([gen], pa.int32()),
    })
    _write_stage(path, {"": tbl}, [], gen)


# The stage graph in build order: stage -> the stage it derives from.
# Both executors write every stage; ``IndexBuilder._stale_stages``
# decides, in one place, which ones a build (or resume) reruns.
_STAGES = {"docs": None, "partials": "docs", "terms": "partials",
           "docstats": "partials", "globalstats": "docstats",
           "dict": "partials", "postings": "partials"}
# the stages that read partials/: a resume that reruns none of them
# does not read it
_PARTIALS_CONSUMERS = frozenset(["terms", "docstats", "dict", "postings"])
# the stages the tokenize+encode kernel's parameters shape (the term
# bucket, the doc-range block, the tokenizer mode): each records them
# when it finishes, and resumes only under the same ones
_LAYOUT_STAGES = _PARTIALS_CONSUMERS | {"partials"}
# the format checks (``_stage_current``) a stage's output must also
# pass to be resumed; the stages not listed resume on ``_SUCCESS`` alone
_STAGE_FORMAT = {"docs": {}, "partials": {"required_cols": ("sum_wdf",),
                                           "build_rows": True},
                 "terms": {}, "globalstats": {}}

# session confs ``_read_staged`` sets while the Spark executor runs;
# ``_run_stages`` restores them before it returns or raises
_SPLIT_CONFS = ("spark.sql.files.maxPartitionBytes",
                "spark.sql.files.openCostInBytes")
# the Spark postings stage sizes its shuffle so that a reduce partition
# holds about this many bytes of encoded runs
_POSTINGS_PART_BYTES = 128 << 20


class PostingRuns:
    """The committed posting runs of the index at ``index_dir`` (rows
    of generations ``gens``, written under ``n_buckets`` term buckets),
    less the docs whose ids ``dead`` holds: what a compaction's partials
    stage derives from, through ``_drop_kernel``, in place of
    tokenizing the live docs.  Reads project ``_POSTINGS_COLS``, so the
    runs of a v5 index read as v6 ones."""

    def __init__(self, index_dir: str, gens: list, dead: pa.Array,
                 n_buckets: int):
        self.index_dir = index_dir
        self.gens = list(gens)
        self.dead = dead
        self.n_buckets = n_buckets

    def kernel(self, n_buckets: int):
        """The drop kernel writing runs bucketed by ``n_buckets``."""
        return _drop_kernel(self.dead.to_numpy(zero_copy_only=False),
                            None if n_buckets == self.n_buckets
                            else n_buckets)

    def live_docs(self) -> pa.Table:
        """The committed ``docs/`` rows whose ids are not dead."""
        return _read_table(f"{self.index_dir}/docs",
                           [f.name for f in DOCS_SCHEMA.fields], self.gens,
                           ~pc.field("doc_id").isin(self.dead))

    def table(self) -> pa.Table:
        """The committed runs, read with pyarrow (the driver's input)."""
        return _read_table(f"{self.index_dir}/postings", _POSTINGS_COLS,
                           self.gens, partitioning=_HIVE).cast(
            to_arrow_schema(POSTINGS_SCHEMA))

    def frame(self, spark: SparkSession) -> DataFrame:
        """The committed runs as a Spark read (the Spark executor's)."""
        return read_index_dir(spark, self.index_dir, "postings",
                              self.gens).select(*_POSTINGS_COLS)


class IndexBuilder:
    """Builds (or resumes) an index at ``out_dir`` from a docs DataFrame;
    ``upsert`` runs the same stages as a later generation, and a
    compaction runs them from an index's own posting runs."""

    # Inputs whose Catalyst size estimate is under this many bytes are
    # built by the driver executor: the stage kernels run in-process on
    # pyarrow after one ``toArrow`` job.  An input Catalyst cannot size
    # (an RDD-backed DataFrame reports ``spark.sql.defaultSizeInBytes``)
    # takes the Spark stages.  Measured by scripts/executor_crossover.py
    # (the benchmark's code corpus at 1k-32k docs, local[4] on a 4-vCPU
    # VM): the driver build used 2-6x less CPU at every size, and its
    # wall time, which grows about 1 s per 1k docs on its one core,
    # ties the Spark build's at about 8k docs (16k docs: 15.8 s driver,
    # 12.5 s Spark).  Catalyst sizes 8k docs at about 8 MB as ingest
    # output but 3.1 MB as a docs/ parquet read, whose estimate is the
    # compressed file size; the limit is the lower, so neither input
    # shape takes the driver past the wall crossover.  The driver's
    # peak memory there is about 0.55 GB.  A compaction picks its
    # executor from the same estimate of its live docs/ rows, though it
    # tokenizes none of them: it merges the committed posting runs
    # (``PostingRuns``), which is cheaper than the tokenizing build the
    # crossover measured, so the limit is conservative for it.
    DRIVER_BUILD_BYTES = 3 << 20

    # A build given no ``n_buckets`` splits its term-keyed stages into
    # one bucket per this many bytes of input (the same Catalyst
    # estimate), rounded down to a power of two in [1, MAX_BUCKETS];
    # an input Catalyst cannot size gets MAX_BUCKETS.  Each bucket
    # directory holds a file per generation with its own footer, and
    # zstd compresses a larger file better; but the driver's postings
    # probe (a pyarrow ``isin`` filter, which prunes bucket directories
    # but no row groups) decodes the whole file of each bucket a query
    # touches.  Measured on the benchmark's code corpus (local[1],
    # whole-machine CPU per unfiltered query, against 64 buckets): at
    # 1k docs (estimate 0.93 MiB) one bucket cut postings from 1.14 to
    # 0.70 MB for +2% query CPU; at 8k docs (7.4 MiB), 4 buckets cut
    # them from 6.1 to 5.1 MB and one bucket to 4.3 MB, each for about
    # +22%, and 8 buckets cost +15%.
    BUCKET_BYTES = 1 << 20
    MAX_BUCKETS = 64

    def __init__(self, spark: SparkSession, out_dir: str,
                 block_span: int = DEFAULT_BLOCK_SPAN,
                 n_buckets: Optional[int] = None,
                 mode: str = "xapian",
                 spelling: bool = False,
                 cjk_ngram: bool = False):
        """``spelling``: materialize the spelling fragment table at the
        end of the build (VERDICT r03 #6) so a cold index answers its
        first suggest() from the prebuilt bucketed table instead of the
        on-the-fly dictionary fallback.  Off by default — it is a
        maintenance artifact like compact, and build benchmarks measure
        the index pipeline.

        ``cjk_ngram``: index with Xapian's FLAG_CJK_NGRAM semantics
        (tokenize.parse_terms); recorded in the manifest so queries and
        upserts pick the same tokenizer mode.  Off by default — the
        reference never enables the flag.

        ``n_buckets``: the term-bucket count; None lets ``build`` size
        it to the input (``n_buckets_for``)."""
        self.spark = spark
        self.out = local_dir(out_dir)
        self.block_span = block_span
        self.n_buckets = n_buckets
        self.mode = mode
        self.spelling = spelling
        self.cjk_ngram = cjk_ngram
        self.runs: Optional[PostingRuns] = None
        self.metrics: dict = {}

    def path(self, name: str) -> str:
        return f"{self.out}/{name}"

    @classmethod
    def n_buckets_for(cls, size: int) -> int:
        """The bucket count a build of an input of ``size`` estimated
        bytes takes: the largest power of two at most ``size /
        BUCKET_BYTES``, within [1, MAX_BUCKETS]."""
        return min(cls.MAX_BUCKETS,
                   1 << max(0, (size // cls.BUCKET_BYTES).bit_length() - 1))

    def _layout(self) -> dict:
        """The tokenize+encode kernel's parameters, which every stage in
        ``_LAYOUT_STAGES`` records (``_stamp``)."""
        return {"n_buckets": self.n_buckets, "block_span": self.block_span,
                "mode": self.mode, "cjk_ngram": self.cjk_ngram}

    @staticmethod
    def _size_estimate(docs_df: DataFrame) -> int:
        """Catalyst's size estimate of ``docs_df`` in bytes, read off
        the optimized plan's statistics: no Spark job runs."""
        return int(docs_df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())

    def _ranges_disjoint(self, docs_df: DataFrame,
                         min_parts: int = 1) -> bool:
        """Do the incoming partitions already hold pairwise-disjoint
        doc-id ranges, in at least ``min_parts`` non-empty partitions?
        Then the forward-store range exchange is redundant and the stage
        writes with a local sort only.  The driver documents table
        qualifies; arbitrary inputs (e.g. a compaction's filtered doc set
        read off bucketless parquet) fall back to the shuffle when it
        fails.  Only a numbered input is probed: the docs stage numbers
        an un-numbered one in its own partitions.  The probe is one cheap
        column-pruned pass over doc_id; when Spark refuses to plan it (a
        non-file source such as a streaming DataFrame) the answer is
        no, and a failure while it runs propagates."""
        try:
            stats = (docs_df
                     .select(F.spark_partition_id().alias("_pid"),
                             F.col("doc_id"))
                     .groupBy("_pid")
                     .agg(F.min("doc_id").alias("lo"),
                          F.max("doc_id").alias("hi"))
                     .collect())
        except AnalysisException:
            return False
        spans = sorted((int(r["lo"]), int(r["hi"])) for r in stats
                       if r["lo"] is not None)
        return len(spans) >= min_parts and all(
            a[1] < b[0] for a, b in zip(spans, spans[1:]))

    def _read_staged(self, rel: str, gen: int) -> DataFrame:
        """Read generation ``gen`` of a stage output with split sizing
        adapted to its size and the cluster parallelism.  Small staged
        dirs would otherwise coalesce into 1-2 file splits
        (maxPartitionBytes 128MB + openCost), serializing every
        downstream map side on a couple of cores; at real scale the
        computed target saturates back to 128MB so task counts stay
        sane.  The two confs are session-wide: ``_run_stages`` restores
        them when it ends."""
        par = max(self.spark.sparkContext.defaultParallelism, 1)
        total = _dir_bytes(self.path(rel))
        tgt = max(1 << 20, min(128 << 20, total // (par * 2) or 1))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(tgt))
        self.spark.conf.set("spark.sql.files.openCostInBytes",
                            str(min(4 << 20, max(1, tgt // 8))))
        return read_index_dir(self.spark, self.out, rel, [gen])

    def _stale_stages(self, force: bool) -> set:
        """The stages this build (re)writes, whichever executor runs
        them.  A stage reruns when its output is missing, unfinished (no
        ``_SUCCESS``) or written by an older format (ADVICE r01), and so
        does every stage derived from it.  A stage the kernel's
        parameters shape also reruns when it recorded other ones (a
        build resumed with another ``n_buckets``, say, would otherwise
        commit postings bucketed by the old count under the new one).
        ``partials/`` is only its consumers' checkpoint, removed once
        they commit: they derive from the docs it encodes, it reruns
        only when one of them does, and rewriting it alone reruns none
        that is current."""
        run: set = set()
        layout = self._layout()
        for name, src in _STAGES.items():
            p, fmt = self.path(name), _STAGE_FORMAT.get(name)
            if src == "partials":
                src = "docs"
            if force or src in run or not _stage_done(p) or (
                    fmt is not None and not _stage_current(p, **fmt)) or (
                    name in _LAYOUT_STAGES and _stamp_of(p) != layout):
                run.add(name)
        if not run & _PARTIALS_CONSUMERS:
            run.discard("partials")
        return run

    def build(self, docs_df: DataFrame, force: bool = False,
              runs: Optional[PostingRuns] = None) -> dict:
        """Build the index of ``docs_df``.  Given ``runs``, the partials
        stage derives from those posting runs instead of tokenizing, and
        the driver's docs stage reads the live ``docs/`` rows with
        pyarrow: ``docs_df`` must hold the same rows, and only its size
        estimate (the executor, ``n_buckets``) and the Spark docs stage
        read it."""
        self.runs = runs
        missing = [f.name for f in DOCS_SCHEMA.fields
                   if f.name not in docs_df.columns and f.name != "doc_id"]
        if missing:
            raise ValueError(
                f"docs DataFrame lacks the DOCS_SCHEMA column(s) "
                f"{missing}; an index built without them would silently "
                f"index those fields as empty")
        t_start = time.time()

        # format guard (ADVICE r01): resuming stages written by an older
        # format would mix schemas — force a rebuild instead.
        # Upsert guard (ADVICE r02, medium): resuming over an index that
        # has committed upserts would skip every stage yet rewrite the
        # manifest with committed_gens=[0], silently hiding every
        # upserted generation and resurrecting tombstoned docs — a
        # resume can never preserve upsert state, so force a rebuild.
        mpath = self.path("manifest.json")
        old: dict = {}
        if os.path.exists(mpath):
            with open(mpath) as f:
                old = json.load(f)
        if old and (
                int(old.get("format_version", 1)) != FORMAT_VERSION or
                int(old.get("generation", 0)) != 0 or
                [int(g) for g in old.get("committed_gens", [0])] != [0]):
            force = True
        if self.n_buckets is None:
            self.n_buckets = self.n_buckets_for(self._size_estimate(docs_df))
        run = self._stale_stages(force)
        if "docs" in run:
            # the upserts' own artifacts — tombstones, dict deltas and a
            # folded dictionary — are keyed on generations of the docs/
            # this build replaces (committed ones, or the orphans of a
            # crashed attempt); left behind, the next upsert would reuse
            # such a generation and its commit would make them visible.
            # The spelling table is keyed on a generation too: the
            # rebuild is generation 0 again, so the old lexicon's table
            # would pass for current (spell._current_table).
            from .spell import _meta_path
            stale = {"tombstones", "dict_delta",
                     old.get("dict_dir", "dict")} - {"dict"}
            if os.path.isdir(self.out):
                if os.path.exists(_meta_path(self.out)):
                    os.remove(_meta_path(self.out))
                stale |= {d for d in os.listdir(self.out) if
                          d == "spelling" or d.startswith("spelling_g")}
            for d in stale:
                shutil.rmtree(self.path(d), ignore_errors=True)

        res = self._run_stages(docs_df, run)
        # on resume the collection statistics come from globalstats/ and
        # the dictionary aggregates from dict/
        gstats, agg = res["gstats"], res["dict_stats"]
        if gstats is None:
            gstats = _read_table(self.path("globalstats"), gens=[0]) \
                .drop_columns(["gen"]).to_pylist()[0]
        if agg is None:
            agg = _dict_stats_of(_read_table(self.path("dict"), ["df"],
                                             gens=[0]))
        # ids continue past every doc, those without a term (and so
        # without a docstats row) included
        top = res["max_doc_id"]
        if top is None:
            top = pc.max(_read_table(self.path("docs"), ["doc_id"], [0])
                         .column("doc_id")).as_py()

        # metrics + manifest (lineage per north rule)
        wall = time.time() - t_start
        n_postings = int(agg["n_postings"] or 0)
        skew = float(agg["max_df"] / agg["avg_df"]) if agg["avg_df"] else 0.0
        n_docs = int(gstats["n_docs"] or 0)
        self.metrics = {
            "n_docs": n_docs,
            "n_terms": int(agg["n_terms"]),
            "n_postings": n_postings,
            "wall_sec": wall,
            "docs_per_sec": n_docs / wall if wall else 0.0,
            "postings_per_sec": n_postings / wall if wall else 0.0,
            "term_df_skew_factor": skew,
            "avg_doclen": float(gstats["avg_doclen"] or 0.0),
        }
        manifest = {
            "format_version": FORMAT_VERSION,
            "mode": self.mode,
            "cjk_ngram": self.cjk_ngram,
            "block_span": self.block_span,
            "n_buckets": self.n_buckets,
            "globalstats": {k: (float(v) if v is not None else None)
                            for k, v in gstats.items()},
            # MVCC commit state: rows are visible iff their gen is listed
            # here (the manifest write IS the commit — ADVICE r01)
            "generation": 0,
            "committed_gens": [0],
            "next_doc_id": int(top or 0) + 1,
            "executor": res["executor"],
            "size_estimate_bytes": res["size_estimate_bytes"],
            "stages": res["stages"],
            "metrics": self.metrics,
        }
        # tmp + rename, like every other commit: a failed write leaves
        # the previous manifest (or none), never a truncated one
        from .upsert import _write_manifest
        _write_manifest(self.out, manifest)
        if self.spelling:
            # after the commit: the fragment table derives from the
            # committed dictionary and publishes via its own atomic
            # pointer (spell.build_spelling), so a crash here leaves a
            # fully queryable index whose first suggest() just takes
            # the fallback path
            from .search import Searcher
            from .spell import build_spelling
            build_spelling(Searcher(self.spark, self.out))
        return manifest

    def _run_stages(self, docs_df: DataFrame, run: set, gen: int = 0,
                    dict_dir: str = "dict", first_id: int = 1) -> dict:
        """Run the stages in ``run`` over ``docs_df`` as generation
        ``gen``, on the executor the input's Catalyst size estimate
        picks: in-process on the driver when it is small, else as Spark
        jobs.  A build runs generation 0 and replaces each stage's
        directory; an upsert runs a later one (``dict_dir`` is then the
        manifest's live dictionary) and appends to them.  The docs stage
        is the one place that numbers documents: an input without a
        ``doc_id`` column gets ids ``first_id, first_id + 1, ...`` in its
        row order.  Returns the executor, its stage records, the new
        docs' count and the statistics the stages computed (None where a
        stage did not run)."""
        est = self._size_estimate(docs_df)
        executor = "driver" if est < self.DRIVER_BUILD_BYTES else "spark"
        stages: list = []
        lock = threading.Lock()

        def record(name: str, sec: float, **extra) -> None:
            # a build's finished stage records its layout for a resume
            # to check; an upsert never resumes, and a driver compaction
            # keeps its partials in memory
            if not gen and name in _LAYOUT_STAGES and \
                    _stage_done(self.path(name)):
                _stamp(self.path(name), self._layout())
            with lock:
                stages.append({"stage": name, "sec": sec,
                               "executor": executor,
                               "size_estimate_bytes": est, **extra})

        saved = {k: self.spark.conf.get(k, None) for k in _SPLIT_CONFS}
        try:
            stages_fn = self._driver_stages if executor == "driver" \
                else self._spark_stages
            res = stages_fn(docs_df, run, record, gen, dict_dir, first_id)
        finally:
            for k, v in saved.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)

        # the 1-row globalstats/ file is written driver-side by both
        # executors; a resume that reran no docstats reads docstats/
        if "globalstats" in run:
            t0 = time.time()
            if res["gstats"] is None:
                res["gstats"] = _gstats_of(_read_table(
                    self.path("docstats"), ["doc_id", "doclen"], [gen]))
            _write_globalstats(self.path("globalstats"), res["gstats"], gen)
            record("globalstats", time.time() - t0)
        # partials/ is only its consumers' resume checkpoint: they have
        # all committed now (this run wrote them, or ``_stale_stages``
        # found them current), so nothing reads it again.  An upsert
        # never resumes, so a Spark upsert's gen-g partials go the same
        # way (one cut short before this line leaves rows the build's
        # resume check refuses).
        shutil.rmtree(self.path("partials"), ignore_errors=True)
        res.update(executor=executor, size_estimate_bytes=est, stages=stages)
        return res

    def _driver_stages(self, docs_df: DataFrame, run: set, record,
                       gen: int, dict_dir: str, first_id: int) -> dict:
        """The driver executor: the input arrives in one ``toArrow``
        job, then every stage in ``run`` runs its Spark counterpart's
        kernel in-process on pyarrow batches.  pyarrow sorts and
        ``group_by``s stand in for the exchanges, and ``_write_stage``
        writes the layout the Spark writers write."""
        res = {"n_docs": None, "max_doc_id": None, "gstats": None,
               "dict_stats": None}
        # stage 1: forward store, sorted by doc_id, one file
        p_docs = self.path("docs")
        docs = None
        if "docs" in run:
            t0 = time.time()
            docs = docs_df.toArrow() if self.runs is None \
                else self.runs.live_docs()
            if "doc_id" not in docs.column_names:
                docs = docs.add_column(0, _DOC_ID_FIELD, pa.array(np.arange(
                    first_id, first_id + docs.num_rows, dtype=np.int64)))
            docs = _with_gen(docs.sort_by("doc_id"), gen)
            _write_stage(p_docs, {"": docs}, ["doc_id", "gen"], gen)
            res["n_docs"] = docs.num_rows
            res["max_doc_id"] = pc.max(docs.column("doc_id")).as_py()
            record("docs", time.time() - t0)
        if not run & _PARTIALS_CONSUMERS:
            return res

        # stage 2: fused tokenize -> phase-1 encode, ONE kernel call
        # over the id-sorted docs, so every (term, block) is one run; a
        # compaction's runs are the committed ones less the dead docs
        p_part = self.path("partials")
        if "partials" in run:
            t0 = time.time()
            if self.runs is not None:
                src = self.runs.table()
                part = _table(list(self.runs.kernel(self.n_buckets)(
                    src.to_batches(max_chunksize=_DRIVER_BATCH_ROWS))),
                    PARTIALS_SCHEMA)
                # each (term, block)'s runs in doc order, in the order
                # the tokenize kernel writes runs (by block, then term),
                # so terms/ comes out as a fresh build writes it.  A
                # compaction is always forced, so no checkpoint is kept
                part = part.sort_by([("block", "ascending"),
                                     ("term", "ascending"),
                                     ("first_doc", "ascending")])
                source = {"source": "postings",
                          "dropped": (pc.sum(src["n"]).as_py() or 0)
                          - (pc.sum(part["n"]).as_py() or 0)}
                del src
            else:
                if docs is None:  # resume: the forward store is written
                    docs = _read_table(p_docs, _TOKENIZE_COLS, [gen]) \
                        .sort_by("doc_id")
                kern = _tokenize_encode_batches(
                    self.n_buckets, self.block_span, self.mode,
                    self.cjk_ngram)
                schema = to_arrow_schema(PARTIALS_SCHEMA)
                part = pa.Table.from_batches(
                    [pa.RecordBatch.from_pandas(pdf, schema=schema,
                                                preserve_index=False)
                     for pdf in kern(
                         b.to_pandas() for b in docs.select(_TOKENIZE_COLS)
                         .to_batches(max_chunksize=_DRIVER_BATCH_ROWS))],
                    schema=schema)
                source = {"source": "tokenize"}
                # the build's resume checkpoint: an upsert never
                # resumes, so its runs go to the consumers from memory
                if not gen:
                    _write_stage(p_part, {"": _with_gen(part, gen)},
                                 ["term", "block", "gen"], gen)
            record("partials", time.time() - t0, **source)
        else:
            part = _read_table(p_part, gens=[gen]).drop_columns(["gen"])
        del docs

        def batches(cols: list) -> list:
            return part.select(cols).to_batches(
                max_chunksize=_DRIVER_BATCH_ROWS)

        if "terms" in run:
            t0 = time.time()
            terms = _table(list(_termlist_kernel()(
                batches(["term", "bucket", "n", "doc_gaps", "wdfs"]))),
                TERMS_SCHEMA)
            _write_stage(self.path("terms"), {"": _with_gen(terms, gen)},
                         ["term", "doc_id", "gen"], gen)
            del terms
            record("terms", time.time() - t0)

        if "docstats" in run:
            t0 = time.time()
            pairs = _table(list(_docstats_kernel()(
                batches(["doc_gaps", "doclens", "n"]))),
                StructType([StructField("doc_id", LongType()),
                            StructField("doclen", IntegerType())]))
            ds = (pairs.group_by("doc_id").aggregate([("doclen", "max")])
                  .select(["doc_id", "doclen_max"])
                  .rename_columns(["doc_id", "doclen"])
                  .sort_by("doc_id"))
            _write_stage(self.path("docstats"), {"": _with_gen(ds, gen)},
                         ["doc_id", "gen"], gen)
            res["gstats"] = _gstats_of(ds)
            record("docstats", time.time() - t0)

        # dictionary: df = Σ run lengths, cf = Σ per-run wdf sums,
        # wdf_max = max per-run max, one file per first-char directory
        if "dict" in run:
            t0 = time.time()
            g = part.group_by(["term", "bucket"]).aggregate(
                [("n", "sum"), ("sum_wdf", "sum"), ("block_max_wdf", "max")])
            d = _with_gen(pa.table({
                "term": g["term"], "bucket": g["bucket"],
                "df": g["n_sum"].cast(pa.int64()),
                "cf": g["sum_wdf_sum"].cast(pa.int64()),
                "wdf_max": g["block_max_wdf_max"],
            }).sort_by("term"), gen)
            tpfx = [t[:1] for t in d.column("term").to_pylist()]
            _write_stage(self.path(dict_dir),
                         _hive_parts(self.spark, d, "tpfx", tpfx),
                         ["term", "gen"], gen)
            res["dict_stats"] = _dict_stats_of(d)
            record("dict", time.time() - t0)

        # postings: phase 2 of the inversion over the sorted partials —
        # one row per (term, block) passes through, several concatenate
        if "postings" in run:
            t0 = time.time()
            order = [("bucket", "ascending"), ("term", "ascending"),
                     ("block", "ascending")]
            src = part.select(_POSTINGS_COLS).sort_by(
                order + [("first_doc", "ascending")])
            post = _table(list(_merge_partial_runs()(src.to_batches(
                max_chunksize=_DRIVER_BATCH_ROWS))), POSTINGS_SCHEMA)
            post = _with_gen(post.sort_by(order), gen)
            _write_stage(self.path("postings"), _hive_parts(
                self.spark, post, "bucket",
                post.column("bucket").to_pylist()),
                ["term", "block", "gen"], gen)
            record("postings", time.time() - t0)
        return res

    def _spark_stages(self, docs_df: DataFrame, run: set, record,
                      gen: int, dict_dir: str, first_id: int) -> dict:
        """The Spark executor: every stage in ``run`` is a Spark job
        over the partitioned input, the partials consumers concurrently.
        Each write appends when ``gen`` > 0, and each read of a stage
        output keeps only gen-``gen`` rows."""
        from pyspark.sql import Observation
        res = {"n_docs": None, "max_doc_id": None, "gstats": None,
               "dict_stats": None}
        mode = "append" if gen else "overwrite"
        # stage 1: forward store, doc_id-clustered + sorted (the fetch
        # join's row-group pruning and the inversion's doc-range
        # invariant both hang off this).  An input without ids is
        # numbered in its own partitions (``_dense_ids``), each a
        # contiguous id range, and written without a range exchange: an
        # ordered one (ingest output, an upsert batch) already crossed
        # its own.  A numbered input skips the exchange when its
        # partitions already hold pairwise-disjoint doc-id ranges (guide
        # §2.4; true for the driver documents table), which one
        # column-pruned pass verifies.
        p_docs = self.path("docs")
        if "docs" in run:
            t0 = time.time()
            # The corpus-wide range exchange is skipped whenever the
            # incoming partitions are VERIFIED to hold pairwise-disjoint
            # doc-id ranges (one column-pruned doc_id pass) AND the scan
            # already yields >= parallelism non-empty splits — true at
            # scale for many-file inputs AND for a single large sorted
            # file (the default split planner cuts it into
            # bytes/parallelism ranges, each a contiguous doc-id run).
            # A small input keeps the shuffle: it costs little there
            # and MANUFACTURES the write/tokenize parallelism a
            # one-row-group file cannot provide (measured at 50k
            # docs/c32: the no-shuffle single-task variant saved ~2 s
            # in isolation but starved partials and every partials
            # consumer of splits — net loss on the full build).
            # Fallback shuffle keeps the EXPLICIT 2×parallelism count —
            # AQE would coalesce the range exchange below the core
            # count and starve the sort+write (measured 2.4 s vs 3.5 s).
            par = max(self.spark.sparkContext.defaultParallelism, 1)
            try:
                in_files = docs_df.inputFiles()
            except AnalysisException:
                in_files = []
            in_bytes = 0
            for fp in in_files:
                p = fp[5:] if fp.startswith("file:") else fp
                try:
                    in_bytes += os.path.getsize(p)
                except OSError:
                    in_bytes = 0
                    break
            if "doc_id" not in docs_df.columns:
                src = _dense_ids(docs_df, first_id)
            # free pre-filter: the probe job only runs when the planner
            # can plausibly produce >= par splits (many files, or one
            # big file above par × the 4 MB open-cost floor) — a small
            # input pays neither the probe nor the old RDD partition
            # check
            elif in_files and (len(in_files) >= par
                               or in_bytes >= par * (4 << 20)) \
                    and self._ranges_disjoint(docs_df, par):
                src = docs_df
            else:
                src = docs_df.repartitionByRange(par * 2, "doc_id")
            # row groups sized to the corpus: a large build keeps 8 MB
            # (splittable files, fine fetch-join row-group pruning); a
            # small no-shuffle build writes ~2×parallelism row groups
            # so the downstream tokenize scan still splits the few
            # output files across the cluster (_read_staged plans its
            # splits at >= 1 MB granularity)
            blk = 8 << 20
            if in_bytes:
                blk = max(256 << 10, min(8 << 20, in_bytes // (par * 2)))
            dobs = Observation("docs")
            (src.sortWithinPartitions("doc_id")
             .withColumn("gen", F.lit(gen))
             .observe(dobs, F.count(F.lit(1)).alias("n_docs"),
                      F.max("doc_id").alias("max_doc_id"))
             .write.mode(mode)
             .option("parquet.block.size", str(blk))
             .parquet(p_docs))
            res["n_docs"] = int(dobs.get["n_docs"])
            res["max_doc_id"] = dobs.get["max_doc_id"]
            record("docs", time.time() - t0)
        if not run & _PARTIALS_CONSUMERS:
            return res

        # stage 2: FUSED tokenize -> phase-1 encode (VERDICT r05 #1).
        # One Python pass over the forward store produces the partial
        # posting runs directly; this is the resume checkpoint, and the
        # ONLY pass that ever tokenizes.  A compaction's pass instead
        # drops the dead docs from the committed runs.  The write-time
        # Observation yields n_postings (one sum over the run lengths)
        # so the postings shuffle can be sized without waiting for the
        # dict.
        p_part = self.path("partials")
        part_stats: Optional[dict] = None
        if "partials" in run:
            t0 = time.time()
            pobs = Observation("partstats")
            if self.runs is not None:
                iobs = Observation("runstats")
                runs = (self.runs.frame(self.spark)
                        .observe(iobs, F.sum("n").alias("n"))
                        .mapInArrow(self.runs.kernel(self.n_buckets),
                                    schema=PARTIALS_SCHEMA))
            else:
                runs = (self._read_staged("docs", gen)
                        .select(*_TOKENIZE_COLS)
                        .mapInPandas(_tokenize_encode_batches(
                            self.n_buckets, self.block_span, self.mode,
                            self.cjk_ngram), schema=PARTIALS_SCHEMA))
            (runs.withColumn("gen", F.lit(gen))
             .observe(pobs, F.sum("n").alias("n_postings"))
             .write.mode(mode).parquet(p_part))
            part_stats = dict(pobs.get)
            source = {"source": "tokenize"} if self.runs is None else {
                "source": "postings",
                "dropped": int(iobs.get["n"] or 0)
                - int(part_stats["n_postings"] or 0)}
            record("partials", time.time() - t0, **source)
        part = self._read_staged("partials", gen)

        # stages 3-6 all derive from partials/ and nothing else (the
        # postings stage stores no score bound, so it does not wait for
        # avg_doclen), so they run CONCURRENTLY from a small thread
        # pool (guide §2.6): the tiny termlist/docstats/dict jobs
        # back-fill executor capacity the postings stage's stragglers
        # leave idle, and none of them extends the build's critical
        # path.  Job descriptions are thread-local, so each stage stays
        # attributable in the UI.
        def run_termlist() -> None:
            # forward termlist (terms/): the row-per-(doc, term) table
            # eset / get_matching_terms / upsert read — DERIVED from the
            # partials' doc gaps and wdfs by a vectorized decode
            self.spark.sparkContext.setJobDescription(
                "build: termlist (derive from partials)")
            t0 = time.time()
            (part.select("term", "bucket", "n", "doc_gaps", "wdfs")
             .mapInArrow(_termlist_kernel(), schema=TERMS_SCHEMA)
             .withColumn("gen", F.lit(gen))
             .write.mode(mode).parquet(self.path("terms")))
            record("terms", time.time() - t0)

        def run_docstats() -> None:
            # doc + collection statistics (A2/A3) from the 3 narrow
            # partials columns — term strings and positions never reach
            # this stage.  The collection aggregates ride the write as
            # an Observation, exactly as before.
            self.spark.sparkContext.setJobDescription("build: docstats")
            t0 = time.time()
            obs = Observation("gstats")
            (part.select("doc_gaps", "doclens", "n")
             .mapInArrow(_docstats_kernel(), "doc_id bigint, doclen int")
             .groupBy("doc_id")
             .agg(F.max("doclen").alias("doclen"))
             .withColumn("gen", F.lit(gen))
             .observe(obs,
                      F.count("doc_id").alias("n_docs"),
                      F.sum("doclen").alias("total_doclen"),
                      F.min("doclen").alias("doclen_lb"),
                      F.max("doclen").alias("doclen_ub"),
                      F.max("doc_id").alias("max_doc_id"))
             .write.mode(mode).parquet(self.path("docstats")))
            gstats = dict(obs.get)
            gstats["avg_doclen"] = (gstats["total_doclen"] / gstats["n_docs"]
                                    if gstats.get("n_docs") else 0.0)
            res["gstats"] = gstats
            record("docstats", time.time() - t0)

        def run_dict() -> None:
            # dictionary from the partials' tiny numeric columns:
            # df = Σ run lengths, cf = Σ per-run wdf sums, wdf_max =
            # max per-run max — no string re-scan, no decode.
            self.spark.sparkContext.setJobDescription("build: dict")
            t0 = time.time()
            dobs = Observation("dictstats")
            (part.groupBy("term", "bucket")
             .agg(F.sum("n").cast("long").alias("df"),
                  F.sum("sum_wdf").cast("long").alias("cf"),
                  F.max("block_max_wdf").alias("wdf_max"))
             .withColumn("gen", F.lit(gen))
             .withColumn("tpfx", F.substring("term", 1, 1))
             .repartition("tpfx", "bucket")
             .sortWithinPartitions("term")
             .observe(dobs,
                      F.sum("df").alias("n_postings"),
                      F.max("df").alias("max_df"),
                      F.avg("df").alias("avg_df"),
                      F.count("term").alias("n_terms"))
             .write.mode(mode)
             .partitionBy("tpfx").parquet(self.path(dict_dir)))
            res["dict_stats"] = dict(dobs.get)
            record("dict", time.time() - t0)

        def run_postings() -> None:
            # phase 2 of the inversion only: the partials ARE the
            # phase-1 output, so this stage is shuffle + concat-merge +
            # write.
            self.spark.sparkContext.setJobDescription("build: postings")
            t0 = time.time()
            if part_stats is not None:
                n_post = int(part_stats.get("n_postings") or 0)
            else:  # resume: one tiny scan of the run-length column
                n_post = int(part.agg(
                    F.sum("n")).collect()[0][0] or 0)
            # size the partial-run shuffle by DATA VOLUME when the
            # default is too coarse: the wire carries already-encoded
            # run payloads (~6 B/posting upper bound) and a reduce
            # partition should hold ~128 MB.  Only force an EXPLICIT
            # count when it exceeds the configured default: an explicit
            # numPartitions disables AQE partition coalescing, which
            # costs 3-4x on small corpora (measured at sf0.1/local[32]
            # in r4: 2.4-6.4 s implicit vs 8.7-11.6 s forced-32).
            sp_default = int(self.spark.conf.get(
                "spark.sql.shuffle.partitions", "200"))
            n_by_bytes = n_post * 6 // _POSTINGS_PART_BYTES + 1
            n_inv = min(10000, n_by_bytes) \
                if n_by_bytes > sp_default else None
            (merge_partials(part.select(*_POSTINGS_COLS), n_inv)
             .withColumn("gen", F.lit(gen))
             .write.mode(mode)
             .partitionBy("bucket").parquet(self.path("postings")))
            record("postings", time.time() - t0)

        tasks = [fn for name, fn in (("terms", run_termlist),
                                     ("docstats", run_docstats),
                                     ("dict", run_dict),
                                     ("postings", run_postings))
                 if name in run]
        if len(tasks) == 1:
            tasks[0]()
        else:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
                futures = [pool.submit(t) for t in tasks]
                for fut in futures:
                    fut.result()  # re-raise the first stage failure
        self.spark.sparkContext.setJobDescription(None)
        return res


def build_index(spark: SparkSession, docs_df: DataFrame, out_dir: str,
                **kw) -> dict:
    force = kw.pop("force", False)
    return IndexBuilder(spark, out_dir, **kw).build(docs_df, force=force)

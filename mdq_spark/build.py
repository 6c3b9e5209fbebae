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
same globalstats write and manifest commit.

Nothing tokenizes twice and nothing re-reads a row-per-(doc, term)
staging table — the 68%-of-stage staging re-scan measured at amp1000 in
round 5 is structurally gone.

Index layout under ``<out_dir>/``:

* ``docs/``        forward store, sorted by doc_id (row payload; replaces
                   the reference's ``set_data`` JSON blob, SURVEY.md §1.4)
* ``partials/``    fused tokenize output: per (term, doc-range block,
                   input split) encoded partial posting runs = the
                   resume checkpoint
* ``terms/``       forward termlist, row per (doc, term) — derived from
                   partials; consumed by eset/upsert/the xq oracle
* ``docstats/``    doc_id -> doclen (sum of wdf incl. Z-stem rows — A3)
* ``globalstats/`` N, total/avg doclen, bounds (A2)
* ``dict/``        per-term df/cf/wdf_max, hash-bucketed (A2)
* ``postings/``    per (term, doc-range block): delta-gap+varint docid
                   run, varint wdfs, varint doclens (denormalized to keep
                   scoring join-free), positions (block-max score bounds
                   are derived at query time from block_max_wdf +
                   block_min_doclen under the current 1/avgdl)
* ``manifest.json`` build params, the executor, stage lineage, metrics
                   (docs/sec, postings/sec, skew factor)

Skew strategy: blocks are keyed by *doc-id range* (``doc_id //
block_span``), not by count.  A hot term (df in the billions) therefore
shatters into many independent (term, block) groups — the salted
repartition the north rule asks for, with the salt chosen so that the
final posting runs are already docid-sorted and disjoint: no sorted-merge
pass is needed afterwards, and no Python worker ever materializes more
than ``block_span`` postings of one term.

Inversion is TWO-PHASE (round 5's ``invert_postings``, kept verbatim
for the upsert path): phase 1 encodes partial runs map-side over
doc-disjoint splits, phase 2 shuffles one already-encoded row per
(term, block, split) — run-length× fewer rows than postings — and
concatenates each group's disjoint runs with a one-varint bridge patch
instead of re-sorting a row per posting.  The fresh build emits phase
1's output straight from the tokenizer.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
import zlib
from typing import Iterable, Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from . import bm25
from .codec import EMPTY_POSITIONS

DEFAULT_BLOCK_SPAN = 1 << 16
DEFAULT_N_BUCKETS = 64

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
FORMAT_VERSION = 5

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

# staging carries positions pre-encoded per (doc, term) as varint bytes
# (count + delta gaps): the shuffle moves small binary blobs instead of
# Arrow lists, and the block encoder concatenates without re-encoding
TERMS_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("bucket", IntegerType(), False),
    StructField("block", LongType(), False),
    StructField("doc_id", LongType(), False),
    StructField("wdf", IntegerType(), False),
    StructField("doclen", IntegerType(), False),
    StructField("positions", BinaryType(), True),
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
    StructField("block_max_part", DoubleType(), False),
    StructField("block_min_doclen", IntegerType(), False),
])


def term_bucket(term: str, n_buckets: int = DEFAULT_N_BUCKETS) -> int:
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
    """Per-doc tokenizer shared by the staging and fused-encode kernels:
    doc dict -> ({term: [wdf, gap-varint posbuf | None, last_pos]},
    doclen)."""
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


def _tokenize_batches(n_buckets: int, block_span: int, mode: str = "xapian",
                      cjk_ngram: bool = False):
    """mapInPandas kernel: docs rows -> per-(doc, term) rows, map-side
    pre-aggregated (wdf summed, positions gap-varint-encoded as they
    arrive) so the shuffle moves one small binary blob per (doc, term),
    not one row per token and no intermediate Python position lists
    (VERDICT r01 #5).  Still used by the upsert path; the fresh build
    uses the fused ``_tokenize_encode_batches`` since round 6."""
    agg_doc = _doc_agg(mode, cjk_ngram)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "term": [], "bucket": [], "block": [], "doc_id": [],
                "wdf": [], "doclen": [], "positions": [],
            }
            for row in pdf.itertuples(index=False):
                doc = row._asdict()
                did = int(doc["doc_id"])
                agg, doclen = agg_doc(doc)
                blk = did // block_span
                for term, ent in agg.items():
                    wdf = ent[0]
                    buf = ent[1]
                    out["term"].append(term)
                    out["bucket"].append(term_bucket(term, n_buckets))
                    out["block"].append(blk)
                    out["doc_id"].append(did)
                    out["wdf"].append(wdf)
                    out["doclen"].append(doclen)
                    # blob layout == codec.encode_position_list output:
                    # varint(count) + gap varints; count == wdf (every
                    # positional occurrence appended exactly one gap)
                    out["positions"].append(
                        _varint(wdf) + bytes(buf)
                        if buf is not None else None)
            yield pd.DataFrame(out)

    return fn


# the fused tokenize+encode stage's output: partial posting blocks plus
# the per-run wdf sum so the dictionary stage can aggregate (df, cf,
# wdf_max) from these tiny columns without re-scanning term strings
PARTIALS_SCHEMA = StructType(
    POSTINGS_SCHEMA.fields
    + [StructField("sum_wdf", LongType(), False)])

_POSTINGS_COLS = [f.name for f in POSTINGS_SCHEMA.fields]
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

    Encoding is the same whole-column vectorization as ``_encode_runs``:
    one LEB128 encode per column per flush, sliced per run by byte
    offsets; positions blobs are concatenations of the per-(doc, term)
    blobs the tokenizer already built (layout identical to the v4
    staging rows).  ``block_max_part`` is written as 0.0: it has been
    dead weight since format v3 (query-time bounds are derived from
    ``block_max_wdf`` + ``block_min_doclen`` under the *current*
    1/avgdl), and dropping it removes both per-posting float work and
    the stage's dependency on avg_doclen — which is what lets the
    downstream stages run concurrently."""
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
            "block_max_part": np.zeros(len(terms_sorted)),
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


def _termlist_kernel_rows(n_buckets: int):
    """Row-path termlist derivation (pandas), kept as the FALLBACK for
    batches the vectorized Arrow kernel cannot prove well-formed (mixed
    runs whose stored position counts differ from wdf, or >2 GB of
    positional bytes in one batch): one vectorized decode per batch for
    doc ids / wdfs / doclens, and per-(doc, term) position blobs
    recovered as byte SLICES of the run's positions buffer (the
    per-doc layout ``varint(count) + gaps`` is preserved verbatim by
    concatenation).

    Row content is identical to what ``_tokenize_batches`` used to
    stage (order aside): a run with a NULL positions buffer means every
    member row was non-positional (Z-stems / CJK bigrams), which staged
    as NULL; in a mixed run the 1-byte empty encoding maps back to
    NULL the same way."""
    import numpy as np

    from .codec import varint_decode

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ns = pdf["n"].to_numpy().astype(np.int64)
            total = int(ns.sum())
            bounds = np.zeros(len(ns) + 1, dtype=np.int64)
            np.cumsum(ns, out=bounds[1:])
            gstarts = bounds[:-1]
            # whole-batch decode: buffers concatenate at varint
            # boundaries, so ONE decode per column serves every run
            gaps = varint_decode(b"".join(pdf["doc_gaps"]), total) \
                .astype(np.int64)
            wdfs = varint_decode(b"".join(pdf["wdfs"]), total) \
                .astype(np.int64)
            dls = varint_decode(b"".join(pdf["doclens"]), total) \
                .astype(np.int64)
            adj = gaps.copy()
            adj[1:] += 1
            adj[gstarts] = gaps[gstarts]
            cs = np.cumsum(adj)
            base = np.repeat(cs[gstarts] - gaps[gstarts], ns)
            ids = cs - base
            pos_col: list = [None] * total
            for ri, blob in enumerate(pdf["positions"]):
                if blob is None:
                    continue
                s = int(gstarts[ri])
                n = int(ns[ri])
                b = np.frombuffer(blob, dtype=np.uint8)
                ends = np.flatnonzero(b < 128)
                bnds = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(wdfs[s:s + n] + 1, out=bnds[1:])
                vals = varint_decode(blob)
                if bnds[-1] != len(vals) or \
                        not (vals[bnds[:-1]] == wdfs[s:s + n]).all():
                    # count != wdf: walk the stored counts instead
                    for k in range(n):
                        bnds[k + 1] = bnds[k] + int(vals[bnds[k]]) + 1
                byte_start = np.zeros(n, dtype=np.int64)
                byte_start[0:] = np.where(
                    bnds[:-1] > 0, ends[np.maximum(bnds[:-1] - 1, 0)] + 1,
                    0)
                byte_end = ends[bnds[1:] - 1] + 1
                for k in range(n):
                    piece = blob[int(byte_start[k]):int(byte_end[k])]
                    pos_col[s + k] = None \
                        if piece == EMPTY_POSITIONS else piece
            terms = np.repeat(pdf["term"].to_numpy(), ns)
            buckets = np.repeat(
                pdf["bucket"].to_numpy().astype(np.int32), ns)
            blocks = np.repeat(
                pdf["block"].to_numpy().astype(np.int64), ns)
            yield pd.DataFrame({
                "term": terms,
                "bucket": buckets,
                "block": blocks,
                "doc_id": ids,
                "wdf": wdfs.astype(np.int32),
                "doclen": dls.astype(np.int32),
                "positions": pos_col,
            })

    return fn


TERMS_ARROW_SCHEMA = ("term string, bucket int, block long, "
                      "doc_id long, wdf int, doclen int, positions binary")


def _termlist_kernel(n_buckets: int):
    """mapInArrow kernel deriving the forward termlist out of partial
    posting rows with NO per-posting Python (round-6: the row-path
    kernel spent ~70 of the 85 s stage wall at amp1000/c8 in a
    per-positional-run ``varint_decode`` verification plus per-piece
    byte slicing — 31.6M Python-level calls for 48M postings).

    Everything is whole-batch numpy / Arrow compute:

    * doc ids / wdfs / doclens: one ``varint_decode`` per column over
      the binary column's VALUES BUFFER (non-null binary columns
      concatenate contiguously — no per-row join);
    * term/bucket/block: one ``take`` with repeated indices;
    * positions: the output per-(doc, term) pieces exactly TILE the
      input blob bytes (pieces partition each run's blob, runs are
      contiguous in row order), so the output binary array REUSES the
      input values buffer zero-copy — only int32 offsets and the
      validity bitmap are computed, from the global varint-end index
      (``flatnonzero(byte < 128)``) under the piece layout
      ``varint(count=wdf) + wdf gap varints``.

    The layout is VERIFIED before being trusted, with exactly the
    checks the row path applied per run: each run's total varint count
    must equal Σ(wdf+1) over its pieces, and each piece's leading count
    varint must decode to that row's wdf.  Any failure (mixed runs with
    EMPTY_POSITIONS members) sends the whole batch to the row-path
    fallback, whose output is byte-identical."""
    import numpy as np
    import pyarrow as pa

    from .codec import varint_decode

    rows_fn = _termlist_kernel_rows(n_buckets)
    out_pa_schema = pa.schema([
        ("term", pa.string()), ("bucket", pa.int32()),
        ("block", pa.int64()), ("doc_id", pa.int64()),
        ("wdf", pa.int32()), ("doclen", pa.int32()),
        ("positions", pa.binary()),
    ])

    def _bin_parts(arr):
        """(byte view, rebased int64 offsets) of a binary array."""
        offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
            arr.offset: arr.offset + len(arr) + 1].astype(np.int64)
        data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[
            offs[0]: offs[-1]]
        return data, offs - offs[0], int(offs[0])

    def _fallback(batch):
        for pdf in rows_fn(iter([batch.to_pandas()])):
            yield pa.RecordBatch.from_pandas(
                pdf, schema=out_pa_schema, preserve_index=False)

    def fn(batches) -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            if batch.num_rows == 0:
                continue
            try:
                out = _fast(batch)
            except Exception:
                out = None
            if out is None:
                yield from _fallback(batch)
            else:
                yield out

    def _fast(batch):
        if True:  # keep the body's indentation stable
            ns = batch.column("n").to_numpy().astype(np.int64)
            nruns = len(ns)
            total = int(ns.sum())
            bounds = np.zeros(nruns + 1, dtype=np.int64)
            np.cumsum(ns, out=bounds[1:])
            gstarts = bounds[:-1]

            g_dat, _, _ = _bin_parts(batch.column("doc_gaps"))
            w_dat, _, _ = _bin_parts(batch.column("wdfs"))
            d_dat, _, _ = _bin_parts(batch.column("doclens"))
            gaps = varint_decode(g_dat, total).astype(np.int64)
            wdfs = varint_decode(w_dat, total).astype(np.int64)
            dls = varint_decode(d_dat, total).astype(np.int64)
            adj = gaps.copy()
            adj[1:] += 1
            adj[gstarts] = gaps[gstarts]
            cs = np.cumsum(adj)
            ids = cs - np.repeat(cs[gstarts] - gaps[gstarts], ns)

            pos = batch.column("positions")
            b_pos, poffs, pbase = _bin_parts(pos)
            if pos.null_count:
                run_has = ~pos.is_null().to_numpy(zero_copy_only=False)
            else:
                run_has = np.ones(nruns, dtype=bool)
            # tiling + size preconditions for the zero-copy fast path
            null_spans = poffs[1:][~run_has] != poffs[:-1][~run_has]
            if b_pos.size >= (1 << 31) or null_spans.any():
                return None
            ends = np.flatnonzero(b_pos < 128)
            run_wdf_sum = np.add.reduceat(wdfs, gstarts) \
                if total else np.zeros(nruns, dtype=np.int64)
            exp_vc = np.where(run_has, run_wdf_sum + ns, 0)
            vc_start = np.searchsorted(ends, poffs[:-1], side="left")
            vc_end = np.searchsorted(ends, poffs[1:], side="left")
            if (vc_end - vc_start != exp_vc).any():
                return None
            # per-piece varint spans under the count==wdf layout
            row_has = np.repeat(run_has, ns)
            pvc = np.where(row_has, wdfs + 1, 0)
            cum = np.zeros(total + 1, dtype=np.int64)
            np.cumsum(pvc, out=cum[1:])
            vidx_start = np.repeat(vc_start - cum[gstarts], ns) + cum[:-1]
            vidx_end = vidx_start + pvc
            pb_start = np.where(vidx_start > 0,
                                ends[np.maximum(vidx_start - 1, 0)] + 1, 0)
            pb_end = np.where(pvc > 0,
                              ends[np.maximum(vidx_end - 1, 0)] + 1, 0)
            # leading count varint of every positional piece must be wdf
            if row_has.any():
                sb = pb_start[row_has]
                first = b_pos[sb]
                vals = (first & 0x7F).astype(np.uint64)
                cont = first >= 128
                j = 1
                while cont.any() and j < 10:
                    nb = b_pos[sb[cont] + j]
                    vals[cont] |= (nb & np.uint64(0x7F)).astype(
                        np.uint64) << np.uint64(7 * j)
                    cont2 = np.zeros_like(cont)
                    cont2[cont] = nb >= 128
                    cont = cont2
                    j += 1
                if (vals != wdfs[row_has].astype(np.uint64)).any():
                    return None
            # output offsets: pieces tile the span, so cumulative piece
            # lengths ARE the piece byte starts; values buffer reused
            lens = np.where(row_has, pb_end - pb_start, 0)
            offsets = np.zeros(total + 1, dtype=np.int32)
            np.cumsum(lens, out=offsets[1:])
            validity = np.packbits(row_has, bitorder="little")
            data_buf = pos.buffers()[2]
            if data_buf is None:
                data_buf = pa.py_buffer(b"")
            else:
                data_buf = data_buf.slice(pbase, int(b_pos.size))
            pos_out = pa.Array.from_buffers(
                pa.binary(), total,
                [pa.py_buffer(validity.tobytes()),
                 pa.py_buffer(offsets.tobytes()), data_buf],
                null_count=int(total - int(row_has.sum())))

            idx = pa.array(np.repeat(np.arange(nruns), ns), pa.int64())
            return pa.RecordBatch.from_arrays([
                batch.column("term").take(idx),
                batch.column("bucket").take(idx),
                batch.column("block").take(idx),
                pa.array(ids, pa.int64()),
                pa.array(wdfs.astype(np.int32)),
                pa.array(dls.astype(np.int32)),
                pos_out,
            ], schema=out_pa_schema)

    return fn


def _docstats_kernel():
    """mapInArrow kernel: partial posting rows -> distinct (doc_id,
    doclen) pairs per batch (the doclen is denormalized identically on
    every posting of a doc, so a batch-local unique is exact input to
    the downstream groupBy-max).  Touches only the 3 narrow columns —
    term strings and position blobs never reach this stage."""
    import numpy as np
    import pyarrow as pa

    from .codec import varint_decode

    def fn(batches) -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ns = batch.column("n").to_numpy().astype(np.int64)
            total = int(ns.sum())
            bounds = np.zeros(len(ns) + 1, dtype=np.int64)
            np.cumsum(ns, out=bounds[1:])
            gstarts = bounds[:-1]
            # zero-copy concat: non-null binary columns' values buffers
            # ARE the concatenation (same trick as _termlist_kernel)
            def _vals(arr):
                offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
                    arr.offset: arr.offset + len(arr) + 1]
                return np.frombuffer(arr.buffers()[2], dtype=np.uint8)[
                    offs[0]: offs[-1]]
            gaps = varint_decode(_vals(batch.column("doc_gaps")),
                                 total).astype(np.int64)
            dls = varint_decode(_vals(batch.column("doclens")),
                                total).astype(np.int64)
            adj = gaps.copy()
            adj[1:] += 1
            adj[gstarts] = gaps[gstarts]
            cs = np.cumsum(adj)
            ids = cs - np.repeat(cs[gstarts] - gaps[gstarts], ns)
            uniq, idx = np.unique(ids, return_index=True)
            yield pa.record_batch(
                [pa.array(uniq), pa.array(dls[idx].astype(np.int32))],
                names=["doc_id", "doclen"])

    return fn


def _encode_runs(lf: float, n_buckets: int = DEFAULT_N_BUCKETS):
    """mapInArrow kernel over partitions sorted by (term, block,
    doc_id): encodes every contiguous (term, block) run.  Arrow batches
    can split a run, so an unfinished tail is carried into the next
    batch — one pass per partition, no per-group task overhead (the
    scalable replacement for a per-group applyInPandas).

    Since round 5 this runs MAP-SIDE, before any shuffle (VERDICT r04
    #1): each tokenize-staging partition covers a contiguous, disjoint
    doc-id range (ingest assigns ids by range partition and the staging
    files inherit that clustering; parquet splits are contiguous row
    groups), so the runs it encodes are *partial* posting blocks —
    already docid-sorted and disjoint from every other partition's runs
    for the same (term, block).  The shuffle then moves one row per
    (term, block, staging-split) instead of one row per posting, and
    the reduce (``_merge_partial_runs``) concatenates disjoint byte
    runs instead of re-sorting hundreds of millions of rows.

    (Round-4 A/B note: replacing the JVM ``sortWithinPartitions`` with
    a kernel-side ``np.lexsort`` + ``Table.take`` was measured SLOWER
    at amp1000/local[8] — 380 s vs 225-264 s — because the take must
    gather the fat position-blob column row-by-row; the streaming
    sorted-input design stays.)

    The ``bucket`` column is NOT shuffled (VERDICT r02 #6: it is
    derivable from the term) — it is recomputed here per GROUP, one
    crc32 per (term, block) run instead of 8 bytes per posting row on
    the wire.

    Fully vectorized — per-ROW Python is gone from the build hot path:

    * group boundaries: dictionary-encoded term codes + block ids, one
      numpy comparison;
    * doc gaps / wdfs / doclens: ONE whole-column LEB128 encode each
      (codec.varint_encode_offsets), sliced per group by byte offsets;
    * block maxima/minima: np.maximum/minimum.reduceat at group starts;
    * positions: nulls filled with the 1-byte empty encoding, then each
      group's blob is a zero-copy slice of the Arrow data buffer (a
      group whose byte span == row count is all-empty -> stored null).

    ``lf`` is 1/avg_doclen, needed for the block-max score bound
    (bm25weight.cc:176-201 adapted per-block)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codec import varint_encode_offsets

    def encode_table(tbl: pa.Table, gstarts: np.ndarray,
                     gends: np.ndarray) -> pa.RecordBatch:
        ids = tbl.column("doc_id").to_numpy()
        wdfs = tbl.column("wdf").to_numpy().astype(np.int64)
        dls = tbl.column("doclen").to_numpy().astype(np.int64)
        trim = int(gends[-1])

        gaps = ids.copy()
        gaps[1:] -= ids[:-1] + 1
        gaps[gstarts] = ids[gstarts]
        buf_g, off_g = varint_encode_offsets(gaps[:trim])
        buf_w, off_w = varint_encode_offsets(wdfs[:trim])
        buf_d, off_d = varint_encode_offsets(dls[:trim])

        normlen = np.maximum(dls[:trim] * lf, bm25.MIN_NORMLEN)
        w = wdfs[:trim]
        parts = w / (bm25.K1 * (normlen * bm25.B + (1 - bm25.B)) + w)
        max_part = np.maximum.reduceat(parts, gstarts)
        max_wdf = np.maximum.reduceat(w, gstarts)
        min_dl = np.minimum.reduceat(dls[:trim], gstarts)

        pos = tbl.column("positions").combine_chunks()
        if pos.null_count:
            pos = pc.fill_null(pos, EMPTY_POSITIONS)
        if isinstance(pos, pa.ChunkedArray):
            pos = pos.combine_chunks()
        # value offsets: the array's logical offset shifts the INDEX
        # into the offsets buffer (values in it are absolute)
        raw_off = np.frombuffer(pos.buffers()[1], dtype=np.int32)
        pos_off = raw_off[pos.offset:pos.offset + len(pos) + 1]
        pos_data = np.frombuffer(pos.buffers()[2], dtype=np.uint8)
        pos_out = []
        for s, e in zip(gstarts, gends):
            lo, hi = int(pos_off[s]), int(pos_off[e])
            # all-empty groups (Z-stem terms) store null: one byte per
            # doc means every entry is the empty encoding
            pos_out.append(None if hi - lo == e - s
                           else pos_data[lo:hi].tobytes())

        sidx = pa.array(gstarts)
        counts = (gends - gstarts).astype(np.int32)
        gterms = tbl.column("term").combine_chunks().take(sidx)
        names = gterms.to_pylist()
        buckets = pa.array(
            [term_bucket(t, n_buckets) for t in names], pa.int32())
        return pa.record_batch([
            gterms,
            buckets,
            tbl.column("block").combine_chunks().take(sidx),
            pa.array(ids[gstarts]),
            pa.array(ids[gends - 1]),
            pa.array(counts),
            pa.array([bytes(buf_g[off_g[s]:off_g[e]])
                      for s, e in zip(gstarts, gends)], pa.binary()),
            pa.array([bytes(buf_w[off_w[s]:off_w[e]])
                      for s, e in zip(gstarts, gends)], pa.binary()),
            pa.array([bytes(buf_d[off_d[s]:off_d[e]])
                      for s, e in zip(gstarts, gends)], pa.binary()),
            pa.array(pos_out, pa.binary()),
            pa.array(max_wdf.astype(np.int32)),
            pa.array(max_part.astype(np.float64)),
            pa.array(min_dl.astype(np.int32)),
        ], names=[f.name for f in POSTINGS_SCHEMA.fields])

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
            # the last run may continue into the next Arrow batch
            leftover = tbl.slice(int(starts[-1]))
            if len(starts) > 1:
                yield encode_table(tbl, starts[:-1], starts[1:])
        if leftover is not None and leftover.num_rows:
            leftover = leftover.combine_chunks()
            yield encode_table(
                leftover, np.array([0]),
                np.array([leftover.num_rows]))

    return fn


def _merge_partial_runs():
    """mapInArrow kernel over partitions sorted by (term, block,
    first_doc): folds the map-side partial runs of each (term, block)
    group into one posting block row.

    The partials of one group come from distinct staging splits, each
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
    emitted with one vectorized ``Table.take`` per batch — no per-group
    Python for them.  Should two partials of a group ever OVERLAP in
    doc range (impossible from the build/upsert pipelines, which only
    feed doc-range-disjoint splits), the group's rows pass through
    unmerged — the query kernels already merge multiple rows per
    (term, block) correctly (they handle gen-interleaved upsert runs
    the same way), so correctness never depends on the disjointness
    invariant."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

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
        ("block_max_wdf", pa.int32()), ("block_max_part", pa.float64()),
        ("block_min_doclen", pa.int32()),
    ])

    def take_batch(tbl, idx):
        return (tbl.select(names).take(pa.array(idx))
                .cast(out_schema).combine_chunks().to_batches()[0])

    def bin_view(tbl, col):
        arr = tbl.column(col).combine_chunks()
        raw_off = np.frombuffer(arr.buffers()[1], dtype=np.int32)
        off = raw_off[arr.offset:arr.offset + len(arr) + 1]
        buf = arr.buffers()[2]
        data = np.frombuffer(buf, dtype=np.uint8) if buf is not None \
            else np.empty(0, dtype=np.uint8)
        return off, data

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
        firsts = tbl.column("first_doc").to_numpy()
        lasts = tbl.column("last_doc").to_numpy()
        ns = tbl.column("n").to_numpy()
        mw = tbl.column("block_max_wdf").to_numpy()
        mp = tbl.column("block_max_part").to_numpy()
        md = tbl.column("block_min_doclen").to_numpy()
        og, dg = bin_view(tbl, "doc_gaps")
        ow, dw = bin_view(tbl, "wdfs")
        od, dd = bin_view(tbl, "doclens")
        parr = tbl.column("positions").combine_chunks()
        pnull = pc.is_null(parr).to_numpy(zero_copy_only=False)
        opp, dp = bin_view(tbl, "positions")
        terms = tbl.column("term").combine_chunks()
        buckets = tbl.column("bucket").to_numpy()
        blocks = tbl.column("block").to_numpy()

        cols: dict = {k: [] for k in names}
        passthrough: list = []
        for gi in multi:
            s, e = int(gstarts[gi]), int(gends[gi])
            if not (firsts[s + 1:e] > lasts[s:e - 1]).all():
                passthrough.extend(range(s, e))  # overlap: keep rows
                continue
            gaps = bytearray(dg[og[s]:og[s + 1]].tobytes())
            for i in range(s + 1, e):
                b = dg[og[i]:og[i + 1]]
                j = 0
                while b[j] & 0x80:
                    j += 1
                gaps += _varint(int(firsts[i]) - int(lasts[i - 1]) - 1)
                gaps += b[j + 1:].tobytes()
            if pnull[s:e].all():
                pos = None
            else:
                pos = b"".join(
                    b"\x00" * int(ns[i]) if pnull[i]
                    else dp[opp[i]:opp[i + 1]].tobytes()
                    for i in range(s, e))
            cols["term"].append(terms[s].as_py())
            cols["bucket"].append(int(buckets[s]))
            cols["block"].append(int(blocks[s]))
            cols["first_doc"].append(int(firsts[s]))
            cols["last_doc"].append(int(lasts[e - 1]))
            cols["n"].append(int(ns[s:e].sum()))
            cols["doc_gaps"].append(bytes(gaps))
            cols["wdfs"].append(dw[ow[s]:ow[e]].tobytes())
            cols["doclens"].append(dd[od[s]:od[e]].tobytes())
            cols["positions"].append(pos)
            cols["block_max_wdf"].append(int(mw[s:e].max()))
            cols["block_max_part"].append(float(mp[s:e].max()))
            cols["block_min_doclen"].append(int(md[s:e].min()))
        if passthrough:
            out_batches.append(take_batch(tbl, passthrough))
        if cols["term"]:
            out_batches.append(pa.record_batch(
                [pa.array(cols[f.name], f.type)
                 for f in out_schema], schema=out_schema))
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
    (``_merge_partial_runs``).  Shared by ``invert_postings`` (raw
    staging input, the upsert path) and the fresh build's postings
    stage (which consumes the fused tokenize-encode output directly)."""
    args = [num_partitions] if num_partitions else []
    return (partials.repartition(*args, "term", "block")
            .sortWithinPartitions("term", "block", "first_doc")
            .mapInArrow(_merge_partial_runs(), schema=POSTINGS_SCHEMA))


def invert_postings(src: DataFrame, lf: float,
                    n_buckets: int = DEFAULT_N_BUCKETS,
                    num_partitions: Optional[int] = None) -> DataFrame:
    """Two-phase distributed inversion (VERDICT r04 #1).

    Phase 1 (map, no shuffle): sort each staging partition by (term,
    block, doc_id) in place and encode its contiguous runs into
    *partial* posting blocks — valid because staging partitions cover
    disjoint contiguous doc-id ranges (see ``_encode_runs``).

    Phase 2 (reduce): shuffle the partial rows — one per (term, block,
    staging-split), i.e. ~run-length× fewer rows than postings, with
    the payload already delta+varint encoded — and concatenate each
    group's disjoint runs (``_merge_partial_runs``).  The reduce-side
    row sort that moved/ordered one row per posting (the 0.56-
    efficiency, memory-bandwidth-bound stage of rounds 2-4) is gone;
    the only full-width sort left runs map-side over locally resident
    rows.

    ``src`` must have columns (term, block, doc_id, wdf, doclen,
    positions) with each partition spanning a doc-id range disjoint
    from every other partition's (what the build/upsert staging reads
    provide)."""
    partials = (src.sortWithinPartitions("term", "block", "doc_id")
                .mapInArrow(_encode_runs(lf, n_buckets),
                            schema=POSTINGS_SCHEMA))
    return merge_partials(partials, num_partitions)


def _stage_done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _stage_current(path: str, binary_positions: bool = False,
                   required_cols: tuple = ()) -> bool:
    """A staged output is resumable only if it was written by the
    current format: every v3 artifact carries a ``gen`` column, v2+
    staging carries positions as varint bytes, and v5 partials carry
    ``sum_wdf``.  Resuming an older stage with current code would crash
    or silently corrupt (ADVICE r01), so a stale stage is rebuilt
    instead.  The schema comes from a parquet footer (pyarrow), so the
    check runs no Spark job; a missing or unreadable stage is stale."""
    try:
        schema = pads.dataset(path, format="parquet").schema
    except (OSError, pa.ArrowInvalid):
        return False
    names = schema.names
    if "gen" not in names:
        return False
    for c in required_cols:
        if c not in names:
            return False
    if binary_positions and not pa.types.is_binary(
            schema.field("positions").type):
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
# row groups of about this many in-memory bytes, so pushed-down reads
# (fetch's doc_id probe, the posting and dictionary term probes) skip
# row groups by their key statistics
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


def _write_stage(path: str, parts: dict, stats: list) -> None:
    """Replace ``path`` with one parquet file per ``parts`` entry (key:
    a hive sub-directory, or "" for ``path`` itself) and mark the stage
    complete with ``_SUCCESS`` last — the layout and the completion rule
    of Spark's ``write.mode("overwrite").partitionBy(...).parquet``."""
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    for sub, tbl in parts.items():
        d = os.path.join(path, sub)
        os.makedirs(d, exist_ok=True)
        rows = max(1, tbl.num_rows * _ROW_GROUP_BYTES // max(tbl.nbytes, 1))
        pq.write_table(
            tbl, os.path.join(d, f"part-00000-{uuid.uuid4()}.c000.parquet"),
            row_group_size=rows,
            write_statistics=[c for c in stats if c in tbl.column_names],
            **_PARQUET_OPTS)
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _with_gen(tbl: pa.Table, gen: int = 0) -> pa.Table:
    return tbl.append_column(
        "gen", pa.array(np.full(tbl.num_rows, gen, dtype=np.int32)))


def _table(batches: list, schema: StructType) -> pa.Table:
    """A kernel's output batches as one table; typed from ``schema``
    when the kernel yielded nothing."""
    if batches:
        return pa.Table.from_batches(batches)
    return to_arrow_schema(schema).empty_table()


def _read_table(path: str, columns: Optional[list] = None,
                gen: Optional[int] = None) -> pa.Table:
    expr = pc.field("gen") == gen if gen is not None else None
    return pads.dataset(path, format="parquet").to_table(
        columns=columns, filter=expr)


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


def _write_globalstats(path: str, gstats: dict) -> None:
    """The 1-row ``globalstats/`` artifact, written driver-side with
    pyarrow by both executors — a Spark job for a single row costs
    ~1.5 s of pure scheduling at any scale (types pinned to match
    upsert's gen-tagged appends)."""
    tbl = pa.table({
        "n_docs": pa.array([gstats.get("n_docs")], pa.int64()),
        "total_doclen": pa.array([gstats.get("total_doclen")], pa.int64()),
        "doclen_lb": pa.array([gstats.get("doclen_lb")], pa.int32()),
        "doclen_ub": pa.array([gstats.get("doclen_ub")], pa.int32()),
        "max_doc_id": pa.array([gstats.get("max_doc_id")], pa.int64()),
        "avg_doclen": pa.array([gstats.get("avg_doclen")], pa.float64()),
        "gen": pa.array([0], pa.int32()),
    })
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


# The stage graph in build order: stage -> the stage it derives from.
# Both executors write every stage; ``IndexBuilder._stale_stages``
# decides, in one place, which ones a build (or resume) reruns.
_STAGES = {"docs": None, "partials": "docs", "terms": "partials",
           "docstats": "partials", "globalstats": "docstats",
           "dict": "partials", "postings": "partials"}
# the stages that read partials/: a resume that reruns none of them
# does not read it
_PARTIALS_CONSUMERS = frozenset(["terms", "docstats", "dict", "postings"])
# the format checks (``_stage_current``) a stage's output must also
# pass to be resumed; the stages not listed resume on ``_SUCCESS`` alone
_STAGE_FORMAT = {"docs": {}, "partials": {"required_cols": ("sum_wdf",)},
                 "terms": {"binary_positions": True}, "globalstats": {}}

# session confs ``_read_staged`` sets while a Spark-executor build runs;
# ``build`` restores them before it returns or raises
_SPLIT_CONFS = ("spark.sql.files.maxPartitionBytes",
                "spark.sql.files.openCostInBytes")


class IndexBuilder:
    """Builds (or resumes) an index at ``out_dir`` from a docs DataFrame."""

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
    # output but 3.1 MB as a docs/ parquet read (compaction's input),
    # whose estimate is the compressed file size; the limit is the
    # lower, so neither input shape takes the driver past the wall
    # crossover.  The driver's peak memory there is about 0.55 GB.
    DRIVER_BUILD_BYTES = 3 << 20

    def __init__(self, spark: SparkSession, out_dir: str,
                 block_span: int = DEFAULT_BLOCK_SPAN,
                 n_buckets: int = DEFAULT_N_BUCKETS,
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
        reference never enables the flag."""
        self.spark = spark
        self.out = out_dir.rstrip("/")
        self.block_span = block_span
        self.n_buckets = n_buckets
        self.mode = mode
        self.spelling = spelling
        self.cjk_ngram = cjk_ngram
        self.metrics: dict = {}

    def path(self, name: str) -> str:
        return f"{self.out}/{name}"

    @staticmethod
    def _size_estimate(docs_df: DataFrame) -> int:
        """Catalyst's size estimate of ``docs_df`` in bytes, read off
        the optimized plan's statistics: no Spark job runs."""
        return int(docs_df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())

    def _range_stats(self, docs_df: DataFrame) -> Optional[list]:
        """One cheap column-pruned pass over doc_id: per-partition
        (lo, hi, n) spans of the incoming partitions.  Returns None when
        Spark refuses to plan the probe (a non-file source such as a
        streaming DataFrame); a failure while it runs propagates."""
        try:
            stats = (docs_df
                     .select(F.spark_partition_id().alias("_pid"),
                             F.col("doc_id"))
                     .groupBy("_pid")
                     .agg(F.min("doc_id").alias("lo"),
                          F.max("doc_id").alias("hi"),
                          F.count("doc_id").alias("n"))
                     .collect())
        except AnalysisException:
            return None
        return [(int(r["lo"]), int(r["hi"]), int(r["n"]))
                for r in stats if int(r["n"])]

    def _ranges_disjoint(self, docs_df: DataFrame) -> bool:
        """Do the incoming partitions already hold pairwise-disjoint
        doc-id ranges?  Then the forward-store range exchange is
        redundant and the stage writes with a local sort only.  Dense
        ids from ingest and the driver documents table both qualify;
        arbitrary inputs (e.g. a compaction's filtered doc set read off
        bucketless parquet) fall back to the shuffle when it fails."""
        stats = self._range_stats(docs_df)
        if stats is None:
            return False
        spans = sorted((lo, hi) for lo, hi, _n in stats)
        return all(a[1] < b[0] for a, b in zip(spans, spans[1:]))

    def _read_staged(self, path: str) -> DataFrame:
        """Read a stage output with split sizing adapted to its size and
        the cluster parallelism.  Small staged dirs would otherwise
        coalesce into 1-2 file splits (maxPartitionBytes 128MB +
        openCost), serializing every downstream map side on a couple of
        cores; at real scale the computed target saturates back to
        128MB so task counts stay sane.  The two confs are session-wide:
        ``build`` restores them when it ends."""
        par = max(self.spark.sparkContext.defaultParallelism, 1)
        total = _dir_bytes(path)
        tgt = max(1 << 20, min(128 << 20, total // (par * 2) or 1))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(tgt))
        self.spark.conf.set("spark.sql.files.openCostInBytes",
                            str(min(4 << 20, max(1, tgt // 8))))
        return self.spark.read.parquet(path)

    def _stale_stages(self, force: bool) -> set:
        """The stages this build (re)writes, whichever executor runs
        them.  A stage reruns when its output is missing, unfinished (no
        ``_SUCCESS``) or written by an older format (ADVICE r01), and so
        does every stage derived from it."""
        run: set = set()
        for name, src in _STAGES.items():
            p = self.path(name)
            fmt = _STAGE_FORMAT.get(name)
            if force or src in run or not _stage_done(p) or (
                    fmt is not None and not _stage_current(p, **fmt)):
                run.add(name)
        return run

    def build(self, docs_df: DataFrame, force: bool = False) -> dict:
        missing = [f.name for f in DOCS_SCHEMA.fields
                   if f.name not in docs_df.columns]
        if missing:
            raise ValueError(
                f"docs DataFrame lacks the DOCS_SCHEMA column(s) "
                f"{missing}; an index built without them would silently "
                f"index those fields as empty")
        t_start = time.time()
        stages = []

        # format guard (ADVICE r01): resuming stages written by an older
        # format would mix schemas — force a rebuild instead.
        # Upsert guard (ADVICE r02, medium): resuming over an index that
        # has committed upserts would skip every stage yet rewrite the
        # manifest with committed_gens=[0], silently hiding every
        # upserted generation and resurrecting tombstoned docs — a
        # resume can never preserve upsert state, so force a rebuild.
        mpath = self.path("manifest.json")
        if not force and os.path.exists(mpath):
            with open(mpath) as f:
                old = json.load(f)
            if int(old.get("format_version", 1)) != FORMAT_VERSION:
                force = True
            elif int(old.get("generation", 0)) != 0 or \
                    [int(g) for g in old.get("committed_gens", [0])] != [0]:
                force = True

        # executor choice: the same stage graph runs in-process on the
        # driver when the input is small, else as Spark jobs
        est = self._size_estimate(docs_df)
        executor = "driver" if est < self.DRIVER_BUILD_BYTES else "spark"
        lock = threading.Lock()

        def record(name: str, sec: float) -> None:
            with lock:
                stages.append({"stage": name, "sec": sec,
                               "executor": executor,
                               "size_estimate_bytes": est})

        run = self._stale_stages(force)
        saved = {k: self.spark.conf.get(k, None) for k in _SPLIT_CONFS}
        try:
            stages_fn = self._driver_stages if executor == "driver" \
                else self._spark_stages
            gstats, agg = stages_fn(docs_df, run, record)
        finally:
            for k, v in saved.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)

        # the 1-row globalstats/ artifact is written driver-side by
        # both executors; on resume the collection statistics come from
        # docstats/ (globalstats stale) or from globalstats/ itself,
        # and the dictionary aggregates from dict/
        p_global = self.path("globalstats")
        if "globalstats" in run:
            t0 = time.time()
            if gstats is None:
                gstats = _gstats_of(_read_table(
                    self.path("docstats"), ["doc_id", "doclen"], gen=0))
            _write_globalstats(p_global, gstats)
            record("globalstats", time.time() - t0)
        else:
            gstats = _read_table(p_global, gen=0).drop_columns(
                ["gen"]).to_pylist()[0]
        if agg is None:
            agg = _dict_stats_of(_read_table(self.path("dict"), ["df"],
                                             gen=0))

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
            "next_doc_id": int(gstats["max_doc_id"] or 0) + 1,
            "executor": executor,
            "size_estimate_bytes": est,
            "stages": stages,
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

    def _driver_stages(self, docs_df: DataFrame, run: set,
                       record) -> tuple:
        """The driver executor: the input arrives in one ``toArrow``
        job, then every stage in ``run`` runs its Spark counterpart's
        kernel in-process on pyarrow batches.  pyarrow sorts and
        ``group_by``s stand in for the exchanges, and ``_write_stage``
        writes the layout the Spark writers write.  Returns ``(gstats,
        dict_stats)``, None for a stage that did not run."""
        gstats = dict_stats = None
        # stage 1: forward store, sorted by doc_id, one file
        p_docs = self.path("docs")
        docs = None
        if "docs" in run:
            t0 = time.time()
            docs = _with_gen(docs_df.toArrow().sort_by("doc_id"))
            _write_stage(p_docs, {"": docs}, ["doc_id", "gen"])
            record("docs", time.time() - t0)
        if not run & _PARTIALS_CONSUMERS:
            return gstats, dict_stats

        # stage 2: fused tokenize -> phase-1 encode, ONE kernel call
        # over the id-sorted docs, so every (term, block) is one run
        p_part = self.path("partials")
        if "partials" in run:
            t0 = time.time()
            if docs is None:  # resume: the forward store is written
                docs = _read_table(p_docs, _TOKENIZE_COLS).sort_by("doc_id")
            kern = _tokenize_encode_batches(self.n_buckets, self.block_span,
                                            self.mode, self.cjk_ngram)
            schema = to_arrow_schema(PARTIALS_SCHEMA)
            part = pa.Table.from_batches(
                [pa.RecordBatch.from_pandas(pdf, schema=schema,
                                            preserve_index=False)
                 for pdf in kern(
                     b.to_pandas() for b in docs.select(_TOKENIZE_COLS)
                     .to_batches(max_chunksize=_DRIVER_BATCH_ROWS))],
                schema=schema)
            _write_stage(p_part, {"": _with_gen(part)},
                         ["term", "block", "gen"])
            record("partials", time.time() - t0)
        else:
            part = _read_table(p_part, gen=0).drop_columns(["gen"])
        del docs

        def batches(cols: list) -> list:
            return part.select(cols).to_batches(
                max_chunksize=_DRIVER_BATCH_ROWS)

        if "terms" in run:
            t0 = time.time()
            terms = _table(list(_termlist_kernel(self.n_buckets)(
                batches(["term", "bucket", "block", "n", "doc_gaps",
                         "wdfs", "doclens", "positions"]))), TERMS_SCHEMA)
            _write_stage(self.path("terms"), {"": _with_gen(terms)},
                         ["term", "doc_id", "gen"])
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
            _write_stage(self.path("docstats"), {"": _with_gen(ds)},
                         ["doc_id", "gen"])
            gstats = _gstats_of(ds)
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
            }).sort_by("term"))
            tpfx = [t[:1] for t in d.column("term").to_pylist()]
            _write_stage(self.path("dict"),
                         _hive_parts(self.spark, d, "tpfx", tpfx),
                         ["term", "gen"])
            dict_stats = _dict_stats_of(d)
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
            post = _with_gen(post.sort_by(order))
            _write_stage(self.path("postings"), _hive_parts(
                self.spark, post, "bucket",
                post.column("bucket").to_pylist()),
                ["term", "block", "gen"])
            record("postings", time.time() - t0)
        return gstats, dict_stats

    def _spark_stages(self, docs_df: DataFrame, run: set,
                      record) -> tuple:
        """The Spark executor: every stage in ``run`` is a Spark job
        over the partitioned input, the partials consumers concurrently.
        Returns ``(gstats, dict_stats)``, None for a stage that did not
        run."""
        # stage 1: forward store, doc_id-clustered + sorted (the fetch
        # join's row-group pruning and the inversion's doc-range
        # invariant both hang off this).  The range exchange is SKIPPED
        # when the incoming partitions already hold pairwise-disjoint
        # doc-id ranges (guide §2.4: the input is already partitioned
        # the way the write needs — true for the driver documents table
        # and for dense_ids output, both id-ordered by construction);
        # one column-pruned pass verifies it, the full-row shuffle only
        # runs when the check fails.
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
            src = None
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
            # free pre-filter: the probe job only runs when the planner
            # can plausibly produce >= par splits (many files, or one
            # big file above par × the 4 MB open-cost floor) — a small
            # input pays neither the probe nor the old RDD partition
            # check
            if in_files and (len(in_files) >= par
                             or in_bytes >= par * (4 << 20)):
                stats = self._range_stats(docs_df)
                if stats is not None and len(stats) >= par:
                    spans = sorted((lo, hi) for lo, hi, _n in stats)
                    if all(a[1] < b[0] for a, b in zip(spans, spans[1:])):
                        src = docs_df
            if src is None:
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
            (src.sortWithinPartitions("doc_id")
             .withColumn("gen", F.lit(0))
             .write.mode("overwrite")
             .option("parquet.block.size", str(blk))
             .parquet(p_docs))
            record("docs", time.time() - t0)
        if not run & _PARTIALS_CONSUMERS:
            return None, None

        # stage 2: FUSED tokenize -> phase-1 encode (VERDICT r05 #1).
        # One Python pass over the forward store produces the partial
        # posting runs directly; this is the resume checkpoint, and the
        # ONLY pass that ever tokenizes.  The write-time Observation
        # yields n_postings (one sum over the run lengths) so the
        # postings shuffle can be sized without waiting for the dict.
        from pyspark.sql import Observation
        p_part = self.path("partials")
        part_stats: Optional[dict] = None
        if "partials" in run:
            t0 = time.time()
            pobs = Observation("partstats")
            (self._read_staged(p_docs).select(*_TOKENIZE_COLS)
             .mapInPandas(
                 _tokenize_encode_batches(self.n_buckets, self.block_span,
                                          self.mode, self.cjk_ngram),
                 schema=PARTIALS_SCHEMA)
             .withColumn("gen", F.lit(0))
             .observe(pobs, F.sum("n").alias("n_postings"))
             .write.mode("overwrite").parquet(p_part))
            part_stats = dict(pobs.get)
            record("partials", time.time() - t0)
        partials = self._read_staged(p_part)
        part0 = partials.filter(F.col("gen") == 0)

        # stages 3-6 all derive from partials/ and nothing else (the
        # postings stage lost its avg_doclen dependency with the dead
        # block_max_part), so they run CONCURRENTLY from a small thread
        # pool (guide §2.6): the tiny termlist/docstats/dict jobs
        # back-fill executor capacity the postings stage's stragglers
        # leave idle, and none of them extends the build's critical
        # path.  Job descriptions are thread-local, so each stage stays
        # attributable in the UI.
        results: dict = {}

        def run_termlist() -> None:
            # forward termlist (terms/): the row-per-(doc, term) table
            # eset / upsert / the xq oracle consume — now DERIVED from
            # the partials by a vectorized decode instead of being the
            # artifact everything re-reads.  Identical rows to the v4
            # staging (order aside).
            self.spark.sparkContext.setJobDescription(
                "build: termlist (derive from partials)")
            t0 = time.time()
            cols = ["term", "bucket", "block", "n", "doc_gaps",
                    "wdfs", "doclens", "positions"]
            (part0.select(*cols)
             .mapInArrow(_termlist_kernel(self.n_buckets),
                         schema=TERMS_SCHEMA)
             .withColumn("gen", F.lit(0))
             .write.mode("overwrite").parquet(self.path("terms")))
            record("terms", time.time() - t0)

        def run_docstats() -> None:
            # doc + collection statistics (A2/A3) from the 3 narrow
            # partials columns — term strings and positions never reach
            # this stage.  The collection aggregates ride the write as
            # an Observation, exactly as before.
            self.spark.sparkContext.setJobDescription("build: docstats")
            t0 = time.time()
            obs = Observation("gstats")
            (part0.select("doc_gaps", "doclens", "n")
             .mapInArrow(_docstats_kernel(), "doc_id bigint, doclen int")
             .groupBy("doc_id")
             .agg(F.max("doclen").alias("doclen"))
             .withColumn("gen", F.lit(0))
             .observe(obs,
                      F.count("doc_id").alias("n_docs"),
                      F.sum("doclen").alias("total_doclen"),
                      F.min("doclen").alias("doclen_lb"),
                      F.max("doclen").alias("doclen_ub"),
                      F.max("doc_id").alias("max_doc_id"))
             .write.mode("overwrite").parquet(self.path("docstats")))
            gstats = dict(obs.get)
            gstats["avg_doclen"] = (gstats["total_doclen"] / gstats["n_docs"]
                                    if gstats.get("n_docs") else 0.0)
            results["gstats"] = gstats
            record("docstats", time.time() - t0)

        def run_dict() -> None:
            # dictionary from the partials' tiny numeric columns:
            # df = Σ run lengths, cf = Σ per-run wdf sums, wdf_max =
            # max per-run max — no string re-scan, no decode.  Same
            # output rows and types as the v4 staging aggregation.
            self.spark.sparkContext.setJobDescription("build: dict")
            t0 = time.time()
            dobs = Observation("dictstats")
            (part0.groupBy("term", "bucket")
             .agg(F.sum("n").cast("long").alias("df"),
                  F.sum("sum_wdf").cast("long").alias("cf"),
                  F.max("block_max_wdf").alias("wdf_max"))
             .withColumn("gen", F.lit(0))
             .withColumn("tpfx", F.substring("term", 1, 1))
             .repartition("tpfx", "bucket")
             .sortWithinPartitions("term")
             .observe(dobs,
                      F.sum("df").alias("n_postings"),
                      F.max("df").alias("max_df"),
                      F.avg("df").alias("avg_df"),
                      F.count("term").alias("n_terms"))
             .write.mode("overwrite")
             .partitionBy("tpfx").parquet(self.path("dict")))
            results["dict_stats"] = dict(dobs.get)
            record("dict", time.time() - t0)

        def run_postings() -> None:
            # phase 2 of the inversion only: the partials ARE the
            # phase-1 output, so this stage is shuffle + concat-merge +
            # write — the staging re-scan and the map-side sort that
            # dominated rounds 2-5 are gone.
            self.spark.sparkContext.setJobDescription("build: postings")
            t0 = time.time()
            if part_stats is not None:
                n_post = int(part_stats.get("n_postings") or 0)
            else:  # resume: one tiny scan of the run-length column
                n_post = int(part0.agg(
                    F.sum("n")).collect()[0][0] or 0)
            # size the partial-run shuffle by DATA VOLUME when the
            # default is too coarse: the wire carries already-encoded
            # run payloads (~6 B/posting upper bound) and a reduce
            # partition should hold ~128 MB.  Only force an EXPLICIT
            # count when it exceeds the configured default: an explicit
            # numPartitions disables AQE partition coalescing, which
            # costs 3-4x on small corpora (measured at sf0.1/local[32]
            # in r4: 2.4-6.4 s implicit vs 8.7-11.6 s forced-32).
            part_mb = int(os.environ.get("MDQ_INV_PART_MB", "128"))
            sp_default = int(self.spark.conf.get(
                "spark.sql.shuffle.partitions", "200"))
            n_by_bytes = n_post * 6 // (part_mb << 20) + 1
            n_inv = min(10000, n_by_bytes) \
                if n_by_bytes > sp_default else None
            (merge_partials(part0.select(*_POSTINGS_COLS), n_inv)
             .withColumn("gen", F.lit(0))
             .write.mode("overwrite")
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

        return results.get("gstats"), results.get("dict_stats")


def build_index(spark: SparkSession, docs_df: DataFrame, out_dir: str,
                **kw) -> dict:
    force = kw.pop("force", False)
    return IndexBuilder(spark, out_dir, **kw).build(docs_df, force=force)

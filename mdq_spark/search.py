"""Distributed query execution: plan tree -> Spark DataFrame pipeline.

Physical strategy (SURVEY.md §3.3 lifecycle):

1. walk the plan for needed terms / wildcard patterns;
2. one *metadata* lookup against ``dict/``: a driver-side pyarrow read
   through the Searcher's dataset over the dictionary, whose ``tpfx``
   partition predicate (the terms' first bytes) prunes directories,
   with ``term IN`` / prefix + committed-gen predicates, ``dict_delta``
   folded in the same way -> termweights computed driver-side.  A
   Spark scan of the dictionary runs only for lookups the probe cannot
   answer and for the distributed escalation of a hot prefix;
3. every plan compiles into ONE block-local operator-tree spec
   (``_compile_block_spec``, total over the plan grammar) and ONE
   evaluator runs it: ``_tree_block_fn`` over Arrow slices of the
   pruned ``postings/bucket=*/`` rows, one doc-range block per slice,
   each decoded whole by the build's run decoders (one varint decode
   per column of the slice, never one per run, and positions only for
   the positional terms).
   When the dictionary proves the volume small (Σ df, plus N for
   MatchAll, <= ``Searcher.LOCAL_EVAL_ROWS``) the driver reads those
   fragments with pyarrow and runs the per-block function itself — no
   Spark job.  Above it, the rows take one hash exchange on the
   doc-range block and the same function runs inside a mapInArrow
   kernel;
4. BM25 sumparts are computed inside that function (doclen is
   denormalized into the posting block so scoring needs no join).
   SYNONYM and wildcards are ``syn`` members (wdf summed per listed
   term), ELITE picks its children at compile time, and MatchAll
   reads the block's live doc_ids from the forward store;
5. tombstoned docs are dropped after the kernel;
6. metadata predicates (tag/date/lang...) restrict doc_ids *before*
   ranking via a semi-join (north-rule pushdown);
7. top-k: a driver-evaluated plan takes the ``(-score, doc_id)`` top-k
   in numpy and returns it as an Arrow-backed local DataFrame (a
   ``LocalRelation``: collecting it runs no job); everything else uses
   orderBy(score desc, doc_id asc).limit(k), which Spark compiles to
   TakeOrderedAndProject (per-partition heaps + driver merge);
8. winners -> collected (k rows) and probed in the ``docs/`` dataset
   with pyarrow (``doc_id IN winners``, committed gens only), returned
   as a local DataFrame (S5).

Storage: opening a Searcher runs no Spark job.  Driver reads go through
one pyarrow dataset per index directory, Spark reads through
``build.read_index_dir`` (DataFrames built on first use); both keep
only the committed generations.

Block-max pruning (O3): before decoding, posting *block metadata*
(first_doc/last_doc/block_max_wdf/block_min_doclen — tiny columns, the
binary payload is never read thanks to parquet column pruning) can
bound each doc-range's best possible score; blocks whose interval upper
bound is below a safe threshold θ are dropped before the expensive
decode.  θ is obtained
by fully scoring the best-bounded blocks first (exact), so pruning never
changes results — verified by tests running both paths.
"""

from __future__ import annotations

import json
from collections import Counter
from functools import cached_property
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.fs as pafs

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from . import bm25
from .build import (
    DOCS_SCHEMA, _HIVE, _decode_runs, _gather, _offsets, _position_slots,
    _undelta, index_fs, read_index_dir, term_bucket,
)
from .plan import (
    Bool, MatchAll, MatchNothing, Node, Positional, Scaled, Term,
    ValueRange, Wildcard,
)
from .queryparse import parse_user_query

DEFAULT_K = 100

_WEIGHTS_SCHEMA = StructType([StructField("doc_id", LongType()),
                              StructField("weight", DoubleType())])
_TAGGED_SCHEMA = StructType([StructField("query_id", StringType())]
                            + _WEIGHTS_SCHEMA.fields)
_SCORES_SCHEMA = StructType([StructField("doc_id", LongType()),
                             StructField("score", DoubleType())])
_RANKED_SCHEMA = StructType([StructField("query_id", StringType())]
                            + _SCORES_SCHEMA.fields
                            + [StructField("rank", IntegerType())])
_MATCHING_TERMS_SCHEMA = StructType([StructField("term", StringType()),
                                     StructField("qindex", LongType())])

# the encoded posting columns the tree kernel reads ("positions" only
# for positional specs); MatchAll rows carry (block, doc_id) instead
_KERNEL_COLS = ["block", "term", "n", "doc_gaps", "wdfs", "doclens"]


def _any_of(conds: list):
    """OR of Spark columns or pyarrow expressions as a balanced tree.
    A left-deep chain of a few hundred ORs (one per prefix of a
    batch_search log) overflows the JVM stack when Catalyst walks it;
    a balanced tree is log2(n) deep."""
    while len(conds) > 1:
        conds = [conds[i] | conds[i + 1] if i + 1 < len(conds)
                 else conds[i] for i in range(0, len(conds), 2)]
    return conds[0]


def _top_k(w: pd.DataFrame, k: int) -> pd.DataFrame:
    """The top-k (doc_id, score) rows of kernel output (doc_id, weight)
    in the order ``orderBy(desc(score), asc(doc_id)).limit(k)``
    returns.  A partition pass cuts the candidates to those tied with
    or above the k-th weight before the exact lexsort."""
    ids = w["doc_id"].to_numpy()
    weights = w["weight"].to_numpy()
    if len(ids) > k > 0:
        kth = -np.partition(-weights, k - 1)[k - 1]
        keep = weights >= kth
        ids, weights = ids[keep], weights[keep]
    top = np.lexsort((ids, -weights))[:max(k, 0)]
    return pd.DataFrame({"doc_id": ids[top], "score": weights[top]})


_POS_SHIFT = 32  # packed positional keys: (survivor_tag << 32) | position


def _window_hits(op: str, window: int, order_terms: list,
                 mult: dict, keys: dict):
    """PHRASE / NEAR window check over packed survivor keys; returns
    the survivor tags with a hit, or None.

    PHRASE (greedy-minimal chain): for every start position of child 1,
    np.searchsorted finds the minimal strictly-later position of each
    next child; the minimal chain minimizes the final span, so checking
    span < window on it is exact (oracle._phrase_hit semantics).

    NEAR (count-window): a valid pick of one distinct position per
    child with span < window exists iff some window [p, p+window)
    anchored at an occurring position contains >= multiplicity(t)
    positions of every term t — distinct terms never share a position
    (one token per position) and one term's positions are strictly
    increasing, so counts are exactly selectable (oracle._near_hit
    semantics)."""
    import numpy as np
    SHIFT = np.int64(_POS_SHIFT)
    if op == "PHRASE":
        cur = keys[order_terms[0]]
        first = cur
        for t in order_terms[1:]:
            kt = keys[t]
            idx = np.searchsorted(kt, cur + 1)
            ok = idx < len(kt)
            cur, first, idx = cur[ok], first[ok], idx[ok]
            nxt = kt[idx]
            same = (nxt >> SHIFT) == (cur >> SHIFT)
            cur, first = nxt[same], first[same]
            if cur.size == 0:
                return None
        hit = np.unique(first[(cur - first) < window] >> SHIFT)
    else:  # NEAR
        starts = np.concatenate([keys[t] for t in sorted(keys)])
        ok = np.ones(starts.size, dtype=bool)
        for t, kt in keys.items():
            cnt = (np.searchsorted(kt, starts + window)
                   - np.searchsorted(kt, starts))
            ok &= cnt >= mult[t]
        hit = np.unique(starts[ok] >> SHIFT)
    return hit if hit.size else None


def _block_slices(tbl: pa.Table) -> list:
    """``tbl`` (sorted by ``block``) cut into one slice per block."""
    blk = tbl.column("block").to_numpy()
    cuts = [0, *(np.flatnonzero(np.diff(blk)) + 1), len(blk)]
    return [tbl.slice(a, b - a) for a, b in zip(cuts[:-1], cuts[1:])]


def _tree_kernel(spec_items: list, lf: float):
    """mapInArrow kernel of the block exchange: ``_tree_block_fn`` over
    a block-sorted partition stream.  Arrow batches can split a block,
    so the last block of each batch is carried into the next as an
    Arrow slice."""
    one_block = _tree_block_fn(spec_items, lf)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry: Optional[pa.Table] = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None:
                tbl = pa.concat_tables([carry, tbl])
            if tbl.num_rows == 0:
                continue
            *done, carry = _block_slices(tbl)
            for blk in done:
                out = one_block(blk)
                if out is not None:
                    yield pa.RecordBatch.from_pandas(out,
                                                     preserve_index=False)
        if carry is not None:
            out = one_block(carry)
            if out is not None:
                yield pa.RecordBatch.from_pandas(out, preserve_index=False)

    return fn


def _spec_inputs(spec_items: list) -> tuple:
    """``(terms, pos_terms, use_all)`` the specs of ``spec_items`` read:
    every posting term, the terms under positional nodes (whose
    position blobs the kernel needs), and whether any spec reads
    MatchAll's docs (an "all" node)."""
    terms: set = set()
    pos_terms: set = set()
    use_all = False
    stack = [spec for _, spec in spec_items]
    while stack:
        sp = stack.pop()
        if sp[0] == "leaf":
            for _, ts, _ in sp[1]:
                terms.update(ts)
        elif sp[0] == "pos":
            for _, ts, _ in sp[3]:
                terms.update(ts)
                pos_terms.update(ts)
        elif sp[0] == "all":
            use_all = True
        elif sp[0] == "scaled":
            stack.append(sp[2])
        elif sp[0] != "empty":
            stack.extend(sp[1])
    return terms, pos_terms, use_all


def _tree_block_fn(spec_items: list, lf: float):
    """Per-block evaluator of the block-local OPERATOR TREE path
    (VERDICT r03 #5, r04 #5): ``one_block(blk)`` evaluates a compiled
    operator tree over an Arrow slice of one doc-range block's encoded
    posting rows (``_KERNEL_COLS``).  A doc lives in exactly one
    block, so EVERY boolean function of term
    membership — and every positional predicate, since positions live
    with the postings — is block-locally decidable and the whole tree
    runs per block, replacing per-operator DataFrame joins (the
    reference evaluates these as one PostList merge per query too:
    Xapian's multimatch over AndNotPostList / NearPostList etc.).  The
    same function runs inside the block exchange (``_tree_kernel``) and
    on the driver (``Searcher._driver_eval``).

    ``spec`` grammar (plain picklable tuples):

      ("empty",)                      matches nothing
      ("all",)                        every live doc of the block,
                                      weight 0 (MatchAll): the slice's
                                      rows with a ``doc_id`` and no
                                      ``term``, from the forward store
      ("leaf", [member...])           union of members, weights summed —
                                      member = ("term", [t], tw) |
                                      ("syn", [t...], tw) (SYNONYM or a
                                      wildcard expansion: scores as ONE
                                      term, wdf added once per LISTED
                                      term, so a repeat counts twice)
      ("or"|"and", [spec...])         union / intersection, weights
                                      summed (plan.py semantics)
      ("and_not"|"and_maybe"|"filter"|"xor", [l, r])
      ("scaled", factor, spec)
      ("pos", op, window, [("term", [t], tw)...])
                                      PHRASE/NEAR: AND of the members
                                      plus the vectorized position-
                                      window check

    ``spec_items`` is a list of ``(query_id, spec)``: a WHOLE QUERY LOG
    evaluates in one pass over the postings — posting decode, term
    membership, and BM25 denominators are computed once per block and
    shared by every query's tree (the batch_search replay path).  A
    single ``(None, spec)`` item emits plain (doc_id, weight) rows;
    tagged items prepend query_id.

    Per block, the slice is decoded whole, never run by run: the term
    rows' doc ids, wdfs and doclens with one varint decode per
    column (``build._decode_runs``).  One ``np.unique`` over those ids
    and the MatchAll doc_ids gives the doc universe and each member's
    place in it, and the members, ordered by (term, universe index),
    hold each term's postings as one contiguous segment however many
    runs (upsert generations) it spans.  The positions of the
    positional terms' rows are decoded once, when a PHRASE/NEAR node
    first has AND survivors (``build._position_slots``), and only the
    survivors' gaps are gathered.  Each tree then folds bottom-up over
    boolean masks + weight vectors — all numpy, no per-row Python.  The
    weight invariant at every node: w == 0 outside the node's mask."""
    _, pos_terms, _ = _spec_inputs(spec_items)
    no_ids = np.zeros(0, dtype=np.int64)

    def one_block(blk: pa.Table) -> Optional[pd.DataFrame]:
        batch = blk.combine_chunks().to_batches()[0]
        names = batch.schema.names
        all_ids = no_ids
        if "doc_id" in names:
            all_ids = pc.drop_null(batch.column("doc_id")).to_numpy()
        runs = batch.slice(0, 0)
        if "term" in names:  # rows with no term are MatchAll's
            term = batch.column("term")
            runs = batch.filter(pc.is_valid(term)) if term.null_count \
                else batch
        if not runs.num_rows and not all_ids.size:
            return None
        ns = ids = wdfs = dls = codes = no_ids
        code_of: dict = {}
        if runs.num_rows:
            ns, ids, wdfs, dls = _decode_runs(runs, "wdfs", "doclens")
            enc = pc.dictionary_encode(runs.column("term"))
            codes = enc.indices.to_numpy()
            code_of = {t: c for c, t in
                       enumerate(enc.dictionary.to_pylist())}
        every = np.concatenate((ids, all_ids))
        if (every[1:] > every[:-1]).all():  # one run and no MatchAll
            universe, inv = every, np.arange(every.size)
        else:
            universe, inv = np.unique(every, return_inverse=True)
        U = universe.size
        uidx = inv[:ids.size]
        # members by (term, universe index): term c's are order[seg[c]:
        # seg[c + 1]].  Each run is already in order, which a stable
        # sort (timsort) merges rather than re-sorts
        order = np.argsort(np.repeat(codes.astype(np.int64), ns) * U + uidx,
                           kind="stable")
        seg = _offsets(np.bincount(codes, weights=ns,
                                   minlength=len(code_of)).astype(np.int64))
        dls0 = np.zeros(U, dtype=np.int64)
        dls0[uidx] = dls
        cdenom = bm25.K1 * (np.maximum(dls0 * lf, bm25.MIN_NORMLEN)
                            * bm25.B + (1.0 - bm25.B))

        def rows_of(t):
            """The members of term t, in universe order."""
            c = code_of.get(t)
            return no_ids if c is None else order[seg[c]: seg[c + 1]]

        def wdf_of(ts):
            """(docs holding any of ts, their wdf summed over ts): a
            term listed twice counts twice."""
            rows = np.concatenate([rows_of(t) for t in ts])
            hit = np.zeros(U, dtype=bool)
            hit[uidx[rows]] = True
            return hit, np.bincount(uidx[rows], weights=wdfs[rows],
                                    minlength=U)

        positions: list = []

        def survivor_keys(t, m):
            """(survivor tag << 32 | position) of t's positions in the
            docs m marks, ascending; the tag of a doc is its rank in m.
            Positions are decoded here, once per slice and only for the
            positional terms' rows."""
            if not positions:
                pos_row = np.isin(codes, [code_of[p] for p in pos_terms
                                          if p in code_of])
                vals, pcnt, pslot = _position_slots(
                    runs.column("positions").filter(pa.array(pos_row)),
                    ns[pos_row])[2:]
                cnt = np.zeros(ids.size, dtype=np.int64)
                slot = np.zeros(ids.size, dtype=np.int64)
                at = np.repeat(pos_row, ns)
                cnt[at], slot[at] = pcnt, pslot
                positions.extend((vals, cnt, slot))
            vals, cnt, slot = positions
            rows = rows_of(t)
            rows = rows[m[uidx[rows]] & (cnt[rows] > 0)]
            c = cnt[rows]
            pos = _undelta(_gather(vals, slot[rows] + 1, c)
                           .astype(np.int64), c)
            tags = np.cumsum(m)[uidx[rows]] - 1
            return pos + (np.repeat(tags, c) << np.int64(_POS_SHIFT))

        def eval_spec(sp):
            kind = sp[0]
            if kind == "empty":
                return np.zeros(U, dtype=bool), np.zeros(U)
            if kind == "all":
                m = np.zeros(U, dtype=bool)
                m[inv[ids.size:]] = True
                return m, np.zeros(U)
            if kind == "leaf":
                m = np.zeros(U, dtype=bool)
                w = np.zeros(U)
                for _, ts, tw in sp[1]:
                    hit, ws = wdf_of(ts)
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
                sums = []
                for _, ts, tw in ms:
                    hit, ws = wdf_of(ts)
                    m &= hit
                    sums.append((tw, ws))
                if not m.any():
                    return empty
                w = np.zeros(U)
                for tw, ws in sums:
                    w[m] += tw * (ws[m] / (cdenom[m] + ws[m]))
                order_terms = [ts[0] for _, ts, _ in ms]
                mult = Counter(order_terms)
                keys = {}
                for t in mult:
                    keys[t] = survivor_keys(t, m)
                    if not keys[t].size:
                        return empty
                hit = _window_hits(op, window, order_terms, mult, keys)
                if hit is None:
                    return empty
                m2 = np.zeros(U, dtype=bool)
                m2[np.flatnonzero(m)[hit]] = True
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


class Searcher:
    """Query engine over an index directory built by build_index."""

    # default prefix-expansion cap: far above any realistic query's
    # useful expansion, far below what would OOM the driver on a
    # 10^12-file dictionary (the expansion is collected; this is the
    # one query-path collect whose size the corpus controls)
    DEFAULT_WILDCARD_LIMIT = 100_000

    def __init__(self, spark: SparkSession, index_dir: str,
                 wildcard_limit: int | None = DEFAULT_WILDCARD_LIMIT,
                 batch_rows_cap: int | None = 64_000_000):
        """``wildcard_limit``: cap on dictionary prefix expansion
        (Xapian's set_max_expansion with WILDCARD_LIMIT_MOST_FREQUENT
        semantics — keep the highest-df terms).  Defaults to a large
        cap so a short prefix over a billion-term dictionary cannot
        collect unbounded rows to the driver; pass None for Xapian's
        literal unlimited default (identical behavior below the cap).

        ``batch_rows_cap``: volume budget (estimated posting rows, from
        the dictionary's df sums) for one shared batch_search exchange.
        A query log whose union exceeds it is split into groups of
        bounded union volume — the amp10000 measurement showed the
        one-exchange amortization inverts once the union shuffle
        dominates (BENCH/BASELINE.md round-5 scale demo).  None
        disables grouping."""
        self.spark = spark
        self.wildcard_limit = wildcard_limit
        self.batch_rows_cap = batch_rows_cap
        # observability for tests: rows the last _dict_lookup collected
        # (bounded by len(terms) + wildcard_limit * len(patterns))
        self._last_dict_rows_collected = 0
        # the location as given, for Spark, and as a pyarrow filesystem
        # and path, for the driver's reads
        self.dir = index_dir.rstrip("/")
        self.fs, self._root = index_fs(self.dir)
        if isinstance(self.fs, pafs.LocalFileSystem):
            # crash recovery: roll a half-finished compact_in_place swap
            # forward (or back) before opening (ADVICE r02); writers
            # are local, so only a local index can be mid-swap
            from .upsert import recover_swap
            recover_swap(self._root)
        self.manifest = self._read_json("manifest.json")
        version = int(self.manifest.get("format_version", 1))
        if version < 5:
            raise ValueError(f"index at {self.dir} is format v{version}; "
                             f"this engine reads v5 and later: rebuild it")
        gs = self.manifest["globalstats"]
        self.N = int(gs["n_docs"] or 0)
        self.avg_doclen = float(gs["avg_doclen"] or 0.0)
        self.doclen_lb = int(gs["doclen_lb"] or 0)
        self.lf = bm25.len_factor(self.avg_doclen)
        self.n_buckets = int(self.manifest["n_buckets"])
        # tokenizer mode flag recorded at build time: queries must
        # parse with the same FLAG_CJK_NGRAM setting the index used
        self.cjk_ngram = bool(self.manifest.get("cjk_ngram", False))
        # MVCC visibility (format v3): only rows whose gen the manifest
        # has committed are readable — a crashed upsert's appends stay
        # invisible (the manifest write is the commit point)
        self.committed = [int(g) for g in self.manifest["committed_gens"]]
        # deltas already baked into a folded dictionary must not be
        # applied twice (a crash between fold's manifest commit and its
        # delta-dir cleanup leaves them on disk — ADVICE r02)
        folded = {int(g) for g in self.manifest.get("delta_folded_gens", [])}
        self._delta_gens = [g for g in self.committed if g not in folded]
        # the manifest's dict_dir pointer is how fold_dict_deltas swaps
        # in a folded dictionary atomically (upsert.fold_dict_deltas)
        self.dict_dir = self.manifest.get("dict_dir", "dict")
        self._datasets: dict = {}
        # whether any tombstone is visible: a pyarrow row count (parquet
        # footers only), not a Spark job
        tombs = self._dataset("tombstones")
        self._tombstoned = tombs is not None and tombs.count_rows(
            filter=pc.field("gen").isin(self.committed)) > 0

    # -- Spark DataFrames, built on first use ----------------------------------
    # The exchange path, pruning, filters, collapse, eset and spell read
    # these; a plan answered on the driver never builds one.

    def _spark_read(self, rel: str, gens=None) -> DataFrame:
        return read_index_dir(self.spark, self.dir, rel,
                              self.committed if gens is None else gens)

    dict = cached_property(lambda self: self._spark_read(self.dict_dir))
    postings = cached_property(lambda self: self._spark_read("postings"))
    docs = cached_property(
        lambda self: self._spark_read("docs").drop("gen"))
    docstats = cached_property(lambda self: self._spark_read("docstats"))

    @cached_property
    def tombstones(self) -> Optional[DataFrame]:
        """The tombstoned doc_ids (upsert.py), dropped after the
        kernel; None when no committed tombstone exists."""
        if not self._tombstoned:
            return None
        return self._spark_read("tombstones").select("doc_id").distinct()

    @cached_property
    def dict_delta(self) -> Optional[DataFrame]:
        """The unfolded dictionary deltas (upsert.py) that keep df/cf
        exact; None when the index has none."""
        if self._dataset("dict_delta") is None:
            return None
        return self._spark_read("dict_delta", self._delta_gens)

    def _dict_totals(self) -> DataFrame:
        """``(term, bucket, tpfx, df, cf, wdf_max)`` over the whole
        dictionary: each term's committed rows summed across
        generations, its unfolded deltas applied, terms whose df fell to
        0 dropped — the statistics ``_dict_lookup`` computes for the
        terms it looks up.  The distributed lookup, eset, spell's
        lexicon and ``fold_dict_deltas`` read it."""
        agg = self.dict.groupBy("term", "bucket", "tpfx").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf"),
            F.max("wdf_max").alias("wdf_max"))
        if self.dict_delta is not None:
            d = self.dict_delta.groupBy("term", "bucket").agg(
                F.sum("ddf").alias("ddf"), F.sum("dcf").alias("dcf"))
            agg = agg.join(d, ["term", "bucket"], "left").select(
                "term", "bucket", "tpfx",
                (F.col("df") + F.coalesce("ddf", F.lit(0))).alias("df"),
                (F.col("cf") + F.coalesce("dcf", F.lit(0))).alias("cf"),
                "wdf_max")
        return agg.filter(F.col("df") > 0)

    # -- driver-side reads (pyarrow) -----------------------------------------

    def _exists(self, rel: str) -> bool:
        return self.fs.get_file_info(
            f"{self._root}/{rel}").type != pafs.FileType.NotFound

    def _read_json(self, name: str) -> dict:
        with self.fs.open_input_stream(f"{self._root}/{name}") as f:
            return json.load(f)

    def _dataset(self, rel: str) -> Optional[pads.Dataset]:
        """The pyarrow dataset over ``<index>/<rel>``, listed once per
        Searcher like Spark's file index: rows of gens committed later
        are invisible to this Searcher anyway.  Names starting with
        ``.`` or ``_`` (in-flight stage files, ``_SUCCESS``) are
        skipped, as Spark skips them.  None when the directory is absent
        or holds no other file — as ``tombstones/`` or ``dict_delta/``
        does after an upsert's first write into it was cut short — so
        no reader meets a dataset without the directory's columns."""
        if rel not in self._datasets:
            dset = pads.dataset(
                f"{self._root}/{rel}", filesystem=self.fs, format="parquet",
                partitioning=_HIVE) if self._exists(rel) else None
            self._datasets[rel] = dset if dset is not None and dset.files \
                else None
        return self._datasets[rel]

    def _read(self, rel: str, columns: list[str], expr=None,
              gens: Optional[list] = None,
              limit: Optional[int] = None) -> pa.Table:
        """Pushed-down pyarrow read of the rows of ``<index>/<rel>``
        matching ``expr`` whose gen is in ``gens`` (default: the
        committed ones): hive directories prune on ``tpfx``/``bucket``
        and only ``columns`` are decoded.  The callers' key filters are
        ``isin``, on which pyarrow skips no row group of a sorted key
        range (it skips one only where the statistics pin a column to a
        single value, as they pin ``gen``)."""
        g = pc.field("gen").isin(self.committed if gens is None else gens)
        expr = g if expr is None else expr & g
        dset = self._dataset(rel)
        if limit is not None:
            return dset.head(limit, columns=columns, filter=expr)
        return dset.to_table(columns=columns, filter=expr)

    def _local_df(self, pdf: Optional[pd.DataFrame],
                  schema: StructType) -> DataFrame:
        """An Arrow-backed local DataFrame (a ``LocalRelation``: Spark
        collects it without running a job)."""
        if pdf is None:
            tbl = pa.table({f.name: pa.array([], pa.null())
                            for f in schema.fields})
        else:
            tbl = pa.Table.from_pandas(pdf[schema.fieldNames()],
                                       preserve_index=False)
        return self.spark.createDataFrame(tbl, schema=schema)

    # -- dictionary access -------------------------------------------------

    def _dict_scan(self, terms: list[str],
                   patterns: list[str]) -> Optional[DataFrame]:
        """The ``_dict_totals`` rows of exact terms + prefix patterns.

        Partition pruning (format v4): the dictionary is partitioned by
        the term's first byte, so BOTH exact lookups and prefix scans
        touch only the directories of the looked-up first chars — a
        wildcard no longer reads the whole dictionary (VERDICT r02 #7).
        The tpfx restriction is a top-level conjunct on grouping keys,
        so Catalyst pushes it below the aggregation and extracts it as a
        partition filter."""
        conds = []
        if terms:
            conds.append(F.col("term").isin(terms))
        for p in patterns:
            # prefix range scan within the first-char partition; parquet
            # min/max on the sorted term column skips row groups too
            conds.append(F.col("term").startswith(p))
        if not conds:
            return None
        cond = _any_of(conds)
        chars = sorted({t[0] for t in terms if t}
                       | {p[0] for p in patterns if p})
        if chars and all(t for t in terms) and all(patterns):
            cond = F.col("tpfx").isin(chars) & cond
        return self._dict_totals().filter(cond)

    def _dict_rows_arrow(self, terms: list[str], patterns: list[str],
                         margin: Optional[int]):
        """Driver-side dictionary lookup via a pushed-down pyarrow read
        of ONLY the needed first-byte partitions — the Xapian-btree-
        lookup analog.  A per-query dictionary probe touches a handful
        of rows, and the 100-150 ms Spark job it used to cost was pure
        scheduling overhead (guide §1: per-query latency at sf1.0 was
        dominated by fixed cost, not work); the pyarrow path is 3-10 ms
        against the same files with the same term/gen predicates.  Its
        term predicates (``isin``, ``starts_with``) skip no row group,
        so every row group of the directories read is decoded.  Returns
        a list of plain row dicts; an empty term or pattern (no first
        byte to partition on) reads every partition.  ``margin`` bounds
        the rows read, with the caller's overflow semantics."""
        conds = []
        if terms:
            conds.append(pc.field("term").isin(terms))
        for p in patterns:
            conds.append(pc.starts_with(pc.field("term"), p))
        expr = _any_of(conds)
        want = {t[:1] for t in terms} | {p[:1] for p in patterns}
        if "" not in want:
            expr = pc.field("tpfx").isin(sorted(want)) & expr
        return self._read(self.dict_dir,
                          ["term", "bucket", "df", "cf", "wdf_max"],
                          expr, limit=margin).to_pylist()

    def _delta_sums(self, terms: list[str]) -> dict:
        """{term: (Σ ddf, Σ dcf)} over the committed, unfolded
        ``dict_delta`` rows of ``terms`` — a pyarrow read and
        group_by on the driver."""
        if self._dataset("dict_delta") is None:
            return {}
        g = self._read("dict_delta", ["term", "ddf", "dcf"],
                       pc.field("term").isin(terms), self._delta_gens) \
            .group_by("term").aggregate([("ddf", "sum"), ("dcf", "sum")])
        return {t: (int(a), int(c)) for t, a, c in zip(
            g["term"].to_pylist(), g["ddf_sum"].to_pylist(),
            g["dcf_sum"].to_pylist())}

    def _dict_lookup(self, terms: list[str], patterns: list[str]) -> dict:
        """One pruned dict lookup for all exact terms + prefix patterns.
        Returns {'exact': {term: row}, 'expansions': {pattern: [terms]}}.

        The driver never receives more than ``len(terms) +
        wildcard_limit × len(patterns)`` rows (ADVICE r03 medium: the
        previous code collected the full expansion and only then
        truncated).  Adaptive two-phase: the common case reads the
        pruned fragment driver-side via pyarrow (``_dict_rows_arrow``)
        and, when the margin is NOT hit, the result set is complete and
        the driver-side aggregation applies.
        Only when a genuinely hot prefix overflows the bound does the
        lookup escalate to a fully distributed pass where gen
        aggregation, delta folding, and the most-frequent cap all run
        scan-side."""
        if not terms and not patterns:
            return {"exact": {}, "expansions": {}, "all": {}}
        cap = self.wildcard_limit
        margin: Optional[int] = None
        if patterns and cap:
            # the raw scan yields up to one row per committed
            # GENERATION per term (upsert appends), so the completeness
            # margin scales by the gen count — otherwise a benign
            # multi-gen index would spuriously trip the distributed
            # escalation on patterns well under the limit (ADVICE r04).
            # committed_gens is driver-small (bounded by upserts since
            # the last compact), so the collect stays bounded.
            n_gens = len(self.committed)
            margin = (len(terms) + cap * len(patterns)) * n_gens + 1
        raw = self._dict_rows_arrow(terms, patterns, margin)
        if margin is not None and len(raw) >= margin:
            return self._dict_lookup_distributed(
                self._dict_scan(terms, patterns), terms, patterns)
        self._last_dict_rows_collected = len(raw)
        # a term may have several dict rows (one per upsert
        # generation): aggregate, then apply tombstone deltas so
        # df/cf stay exact
        agg: dict = {}
        for r in raw:
            d = agg.setdefault(r["term"], {"term": r["term"], "df": 0,
                                           "cf": 0, "wdf_max": 0,
                                           "bucket": r["bucket"]})
            d["df"] += int(r["df"])
            d["cf"] += int(r["cf"])
            d["wdf_max"] = max(d["wdf_max"], int(r["wdf_max"]))
        if agg:
            for t, (ddf, dcf) in self._delta_sums(list(agg)).items():
                agg[t]["df"] += ddf
                agg[t]["cf"] += dcf
        agg = {t: d for t, d in agg.items() if d["df"] > 0}
        tset = set(terms)
        exact = {t: d for t, d in agg.items() if t in tset}
        expansions: dict = {}
        for p in patterns:
            exp = sorted(t for t in agg if t.startswith(p))
            if cap and len(exp) > cap:
                exp = sorted(sorted(exp, key=lambda t: (-agg[t]["df"],
                                                        t))[:cap])
            expansions[p] = exp
        return {"exact": exact, "expansions": expansions, "all": agg}

    def _dict_lookup_distributed(self, scan: DataFrame,
                                 terms: list[str],
                                 patterns: list[str]) -> dict:
        """Escalation path for hot prefixes: tag each term's totals
        (``scan``, from ``_dict_scan``) with every lookup it serves
        ('' = exact, or the matching pattern) and cap each pattern's
        expansion to the ``wildcard_limit`` highest-df terms — all
        before the (bounded) collect."""
        from pyspark.sql import Window
        tag_whens = []
        if terms:
            tag_whens.append(F.when(F.col("term").isin(terms), F.lit("")))
        for p in patterns:
            tag_whens.append(
                F.when(F.col("term").startswith(p), F.lit(p)))
        tags = F.array_compact(F.array(*tag_whens))
        agg_df = scan.select("term", "bucket", "df", "cf", "wdf_max",
                             F.explode(tags).alias("tag"))
        if self.wildcard_limit:
            # WILDCARD_LIMIT_MOST_FREQUENT: per pattern keep the
            # highest-df terms, ties by term — identical ranking to
            # the old driver-side truncation, now inside the scan
            w = Window.partitionBy("tag").orderBy(
                F.desc("df"), F.asc("term"))
            agg_df = (agg_df.withColumn("_rn", F.row_number().over(w))
                      .filter((F.col("tag") == "")
                              | (F.col("_rn") <= self.wildcard_limit))
                      .drop("_rn"))
        collected = agg_df.collect()
        self._last_dict_rows_collected = len(collected)
        allmap: dict = {}
        exact: dict = {}
        expansions: dict = {p: [] for p in patterns}
        for r in collected:
            d = {"term": r["term"], "df": int(r["df"]),
                 "cf": int(r["cf"]), "wdf_max": int(r["wdf_max"]),
                 "bucket": r["bucket"]}
            allmap[r["term"]] = d
            if r["tag"] == "":
                exact[r["term"]] = d
            else:
                expansions[r["tag"]].append(r["term"])
        for p in expansions:
            expansions[p] = sorted(expansions[p])
        return {"exact": exact, "expansions": expansions, "all": allmap}

    @staticmethod
    def _walk(node: Node, terms: set, patterns: set):
        if isinstance(node, Term):
            terms.add(node.term)
        elif isinstance(node, Wildcard):
            patterns.add(node.pattern)
        elif isinstance(node, (Bool, Positional)):
            for c in node.children:
                Searcher._walk(c, terms, patterns)
        elif isinstance(node, Scaled):
            Searcher._walk(node.child, terms, patterns)

    def _context(self, nodes, filters: Optional[Column] = None) -> dict:
        """The evaluation context of plans ``nodes``: one dictionary
        lookup for all their terms and patterns, and the doc_ids
        ``filters`` allows (None: every doc)."""
        terms: set = set()
        patterns: set = set()
        for node in nodes:
            self._walk(node, terms, patterns)
        return {"dict": self._dict_lookup(sorted(terms), sorted(patterns)),
                "allowed": None if filters is None
                else self.docs.filter(filters).select("doc_id")}

    # -- postings access ----------------------------------------------------

    def _scan_blocks(self, terms: list[str]) -> DataFrame:
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        return self.postings.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms))

    # -- node evaluation -----------------------------------------------------

    @staticmethod
    def _syn_terms(node: Node, ctx: dict) -> Counter:
        """OP_SYNONYM's constituent terms with multiplicities: Term
        leaves, wildcard expansions, and the leaves of nested Bool /
        Positional / Scaled children flattened — a term under two
        children counts twice, like Xapian's SynonymPostList."""
        counts: Counter = Counter()

        def walk(n: Node):
            if isinstance(n, Term):
                counts[n.term] += 1
            elif isinstance(n, Wildcard):
                counts.update(ctx["dict"]["expansions"].get(n.pattern, []))
            elif isinstance(n, (Bool, Positional)):
                for c in n.children:
                    walk(c)
            elif isinstance(n, Scaled):
                walk(n.child)

        walk(node)
        return counts

    def _unit_tw(self, terms, ctx: dict, wqf: int = 1) -> Optional[float]:
        """Termweight of one scoring unit, or None when it matches
        nothing.  A unit is one term, or a synonym / wildcard expansion
        whose df is the dictionary estimate min(N, Σ df over the
        distinct terms) — the oracle's convention (Xapian scores
        OP_SYNONYM from estimated frequencies too), which keeps the
        termweight a driver-side constant: no aggregation over the
        expansion union just to learn its size."""
        known = ctx["dict"]["all"]
        df = min(self.N, sum(int(known[t]["df"]) for t in set(terms)
                             if t in known))
        return bm25.termweight(self.N, df, wqf) if df > 0 else None

    def _max_leaf_tw(self, node: Node, ctx: dict) -> float:
        """ELITE's ranking key: the highest leaf termweight under
        ``node`` (oracle._max_leaf_termweight)."""
        if isinstance(node, Term):
            return self._unit_tw([node.term], ctx, node.wqf) or 0.0
        if isinstance(node, Wildcard):
            return self._unit_tw(
                ctx["dict"]["expansions"].get(node.pattern, []), ctx) or 0.0
        if isinstance(node, (Bool, Positional)):
            return max((self._max_leaf_tw(c, ctx) for c in node.children),
                       default=0.0)
        if isinstance(node, Scaled):
            return node.factor * self._max_leaf_tw(node.child, ctx)
        return 0.0

    def _compile_block_spec(self, node: Node, ctx: dict) -> tuple:
        """Compile a plan tree into the tree kernel's spec (grammar in
        ``_tree_block_fn``).  Total: every plan node compiles, so the
        kernel is the one evaluator.  OR of pure leaves flattens into
        one 'leaf' spec — identical weights (union + sum), fewer
        masks."""
        if isinstance(node, Term):
            tw = self._unit_tw([node.term], ctx, node.wqf)
            return ("empty",) if tw is None else \
                ("leaf", [("term", [node.term], tw)])
        if isinstance(node, Wildcard):
            ts = ctx["dict"]["expansions"].get(node.pattern, [])
            tw = self._unit_tw(ts, ctx)
            return ("empty",) if tw is None else ("leaf", [("syn", ts, tw)])
        if isinstance(node, MatchAll):
            return ("all",)
        if isinstance(node, (MatchNothing, ValueRange)):
            return ("empty",)
        if isinstance(node, Positional):
            # positions live on term leaves only: a PHRASE/NEAR over
            # any other child matches nothing (oracle._positional)
            members = [self._compile_block_spec(c, ctx)
                       if isinstance(c, Term) else ("empty",)
                       for c in node.children]
            if any(m[0] == "empty" for m in members):
                return ("empty",)
            return ("pos", node.op, node.window, [m[1][0] for m in members])
        if isinstance(node, Scaled):
            return ("scaled", node.factor,
                    self._compile_block_spec(node.child, ctx))
        if not isinstance(node, Bool):
            raise TypeError(f"unknown node {node!r}")
        if node.op == "SYNONYM":
            counts = self._syn_terms(node, ctx)
            tw = self._unit_tw(counts, ctx)
            return ("empty",) if tw is None else \
                ("leaf", [("syn", sorted(counts.elements()), tw)])
        if node.op == "ELITE":
            # the 10 children with the highest leaf termweight, picked
            # here on the driver; their union (weights summed) is an OR
            kids = sorted(node.children, reverse=True,
                          key=lambda c: self._max_leaf_tw(c, ctx))[:10]
            return self._compile_block_spec(Bool("OR", tuple(kids)), ctx)
        subs = [self._compile_block_spec(c, ctx) for c in node.children]
        if node.op == "OR":
            # flatten leaf children into one union group and drop
            # empties (OR identity)
            members, rest = [], []
            for s in subs:
                if s[0] == "leaf":
                    members.extend(s[1])
                elif s[0] != "empty":
                    rest.append(s)
            if members:
                rest.insert(0, ("leaf", members))
            if not rest:
                return ("empty",)
            return rest[0] if len(rest) == 1 else ("or", rest)
        if node.op == "AND":
            if any(s[0] == "empty" for s in subs):
                return ("empty",)  # AND absorbing element
            return ("and", subs)
        if node.op in ("AND_NOT", "AND_MAYBE", "FILTER", "XOR"):
            l, r = subs[:2]
            if l[0] == "empty":
                return r if node.op == "XOR" else ("empty",)
            if r[0] == "empty":
                # x AND_NOT/AND_MAYBE/XOR nothing = x;
                # x FILTER nothing = nothing (plan.combine)
                return ("empty",) if node.op == "FILTER" else l
            return (node.op.lower(), [l, r])
        raise ValueError(f"unknown bool op {node.op}")

    def _eval(self, node: Node, ctx: dict) -> DataFrame:
        """(doc_id, weight) of a plan: its compiled spec through the
        tree kernel, then the ``ctx['allowed']`` semi-join."""
        return self._eval_specs([(None, self._compile_block_spec(node, ctx))],
                                ctx, _WEIGHTS_SCHEMA)

    def _eval_specs(self, spec_items: list, ctx: dict,
                    schema: StructType) -> DataFrame:
        """The kernel's rows for ``spec_items`` (``(query_id, spec)``
        pairs): on the driver under the volume check, else through the
        block exchange — tombstoned docs dropped either way — then
        semi-joined with ``ctx['allowed']``."""
        if self._on_driver(spec_items, ctx):
            out = self._local_df(self._driver_eval(spec_items, ctx), schema)
        else:
            out = self._exchange_eval(spec_items, ctx, schema)
        if ctx["allowed"] is not None:
            out = out.join(ctx["allowed"], "doc_id", "left_semi")
        return out

    # below this estimated volume (Σ df over the plan's terms, read off
    # the dictionary rows already in hand, plus N when it reads
    # MatchAll's docs) a compiled plan is evaluated on the DRIVER
    # (``_driver_eval``): pyarrow reads the pruned posting fragments
    # and the tree kernel's per-block function runs in-process, so the
    # query runs no Spark job at all — per-job scheduling and Catalyst
    # planning cost far more than one core's decode of a few
    # megabytes.  Volume-driven, so it self-disables at scale: hot
    # terms at 10^9+ docs blow past the bound and keep the parallel
    # block exchange.
    LOCAL_EVAL_ROWS = 2_000_000

    def _on_driver(self, spec_items: list, ctx: dict) -> bool:
        """The volume check choosing the driver over the block
        exchange.  A kept-block set too large for the driver
        (``blocks_df``) keeps the exchange."""
        if ctx.get("blocks_df") is not None:
            return False
        terms, _, use_all = _spec_inputs(spec_items)
        known = ctx["dict"]["all"]
        vol = sum(int(known[t]["df"]) for t in terms if t in known)
        return vol + (self.N if use_all else 0) <= self.LOCAL_EVAL_ROWS

    def _driver_eval(self, spec_items: list,
                     ctx: dict) -> Optional[pd.DataFrame]:
        """Evaluate compiled specs on the driver with the exchange
        kernel's per-block function: a pyarrow read of the committed
        rows of the terms' ``postings/bucket=*/`` fragments (term IN,
        and ``ctx['blocks']`` when set) plus, for MatchAll, the live
        docs' ``(block, doc_id)`` rows, cut into one Arrow slice per
        block; then tombstoned docs dropped.  Returns the kernel's rows
        ((query_id,) doc_id, weight) — identical to the exchange
        path's — or None when nothing matches."""
        terms, pos_terms, use_all = _spec_inputs(spec_items)
        blocks = ctx.get("blocks")
        parts = []
        if terms:
            buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
            expr = pc.field("bucket").isin(buckets) \
                & pc.field("term").isin(sorted(terms))
            if blocks is not None:
                expr = expr & pc.field("block").isin(
                    [int(b) for b in blocks])
            cols = _KERNEL_COLS + (["positions"] if pos_terms else [])
            parts.append(self._read("postings", cols, expr))
        if use_all:
            # the forward store, not docstats: a doc that emitted zero
            # terms (allowed by the data model) must still match
            # <alldocuments> (ADVICE r04)
            ids = self._read("docs", ["doc_id"])["doc_id"]
            docs = pa.table({"block": pc.divide(
                ids, int(self.manifest["block_span"])), "doc_id": ids})
            if blocks is not None:
                docs = docs.filter(pc.field("block").isin(
                    [int(b) for b in blocks]))
            parts.append(docs)
        if not parts:
            return None
        tbl = pa.concat_tables(parts, promote_options="default")
        if tbl.num_rows == 0:
            return None
        one_block = _tree_block_fn(spec_items, self.lf)
        frames = []
        for blk in _block_slices(tbl.sort_by("block")):
            out = one_block(blk)
            if out is not None:
                frames.append(out)
        if not frames:
            return None
        out = pd.concat(frames, ignore_index=True)
        if self._tombstoned:
            ids = out["doc_id"].to_numpy()
            dead = self._read(
                "tombstones", ["doc_id"],
                pc.field("doc_id").isin(pa.array(np.unique(ids))))
            if dead.num_rows:
                out = out[~np.isin(ids, dead["doc_id"].to_numpy())]
        return out if len(out) else None

    def _exchange_eval(self, spec_items: list, ctx: dict,
                       schema: StructType) -> DataFrame:
        """The kernel's rows through ONE exchange: the encoded posting
        rows of every referenced term (plus, for MatchAll, the docs'
        ``(block, doc_id)`` rows) shuffled on the doc-range block key,
        the tree kernel folded per block inside mapInArrow, tombstoned
        docs anti-joined."""
        terms, pos_terms, use_all = _spec_inputs(spec_items)
        parts = []
        if terms:
            # the binary positions column rides the exchange only when
            # a positional node needs it (and is decoded only at AND-
            # survivor indices inside the kernel)
            cols = _KERNEL_COLS + (["positions"] if pos_terms else [])
            parts.append(self._scan_blocks(sorted(terms)).select(*cols))
        if use_all:
            span = int(self.manifest["block_span"])
            parts.append(self.docs.select(
                F.expr(f"doc_id div {span}").alias("block"), "doc_id"))
        enc = parts[0]
        if len(parts) > 1:
            enc = enc.unionByName(parts[1], allowMissingColumns=True)
        if ctx.get("blocks") is not None:
            enc = enc.filter(
                F.col("block").isin([int(b) for b in ctx["blocks"]]))
        if ctx.get("blocks_df") is not None:
            # kept-block set too large for a pushed-down IN-list: apply
            # it as a broadcast semi-join (VERDICT r02 #1 cap)
            enc = enc.join(F.broadcast(ctx["blocks_df"]), "block",
                           "left_semi")
        out = self._block_exchange(enc).mapInArrow(
            _tree_kernel(spec_items, self.lf), schema)
        if self.tombstones is not None:
            out = out.join(self.tombstones, "doc_id", "left_anti")
        return out

    @staticmethod
    def _block_exchange(enc: DataFrame) -> DataFrame:
        """Group encoded posting rows by doc-range block for the tree
        kernel: one hash exchange on ``block``, sorted within each
        partition so ``_tree_kernel`` sees whole blocks."""
        return enc.repartition("block").sortWithinPartitions("block")

    # -- block-max pruning (O3: distributed block-max WAND) --------------------

    def _scoring_units(self, node: Node, ctx: dict):
        """Decompose an OR/SYNONYM/Term/Wildcard-only tree into scoring
        units [(tw, {term: mult})], one per leaf postlist; returns None
        when the tree contains any other operator (pruning not
        applicable)."""
        wqf = 1
        if isinstance(node, Term):
            terms, wqf = Counter([node.term]), node.wqf
        elif isinstance(node, Wildcard):
            terms = Counter(ctx["dict"]["expansions"].get(node.pattern, []))
        elif isinstance(node, Bool) and node.op == "SYNONYM":
            terms = self._syn_terms(node, ctx)
        elif isinstance(node, Bool) and node.op == "OR":
            units = []
            for c in node.children:
                u = self._scoring_units(c, ctx)
                if u is None:
                    return None
                units.extend(u)
            return units
        elif isinstance(node, MatchNothing):
            return []
        else:
            return None
        # a unit even when none of its terms is in the dictionary: it
        # still counts toward percent-cutoff's total
        # (oracle._unit_term_sets); its weight bounds nothing
        return [(self._unit_tw(terms, ctx, wqf) or 0.0, dict(terms))] \
            if terms else []

    # driver-side block-id collects are capped at a CONSTANT: beyond
    # this the IN-list stops paying for itself and the plain path (or a
    # broadcast semi-join) is used instead — the sweep itself never
    # collects per-(term, block) metadata rows (VERDICT r02 #1)
    PRUNE_COLLECT_CAP = 4096

    def _eval_pruned(self, node: Node, ctx: dict, k: int,
                     units, force: bool = False) -> Optional[DataFrame]:
        """Block-max WAND, batch-adapted — the bound sweep is a
        DataFrame aggregation, NOT a driver collect (VERDICT r02 #1:
        per-(term, block) metadata grows as N/block_span — ~15M rows per
        hot term at 10^12 docs — so sweeping it in driver Python was the
        one remaining driver-memory wall):

        1. scan only the tiny metadata columns of the query terms'
           posting blocks (parquet never touches the binary payload);
        2. per (term, block): bound part = max over gen rows, doc count
           = sum (upsert appends duplicate (term, block) rows);
        3. per block: ub(b) = Σ_t coef(t)·part(t, b) via a broadcast
           coefficient map (coef(t) = Σ_u tw_u·m_u(t) — query terms
           only, driver-small by construction), nd(b) = max_t count —
           all inside ONE groupBy pipeline;
        4. collect ONLY the best-bounded blocks (ub desc) until they
           cover k docs — a handful of rows — and score them exactly to
           establish θ = kth score;
        5. keep blocks with ub >= θ: collected as ids when under a
           constant cap (parquet pushes the IN-list down), else applied
           as a broadcast semi-join — either way the driver never holds
           more than PRUNE_COLLECT_CAP block ids.

        Sound: a doc outside kept blocks scores < θ.  Bound validity
        for synonyms: f(w)=w/(c+w) is subadditive, so per-term block
        bounds sum to a valid synonym bound.

        Upsert-safe (ADVICE r01): bounds are computed from the stored
        block_max_wdf + block_min_doclen under the CURRENT 1/avgdl —
        the index stores no score bound that an upsert could leave
        stale."""
        all_terms = sorted({t for _, tm in units for t in tm})
        if not all_terms:
            return None
        coef: dict = {}
        for tw, tm in units:
            for t, m in tm.items():
                coef[t] = coef.get(t, 0.0) + tw * m
        coef_col = F.create_map(
            *[x for t, c in coef.items()
              for x in (F.lit(t), F.lit(float(c)))])
        # bm25.maxpart with tw=1 as a native column expression
        normlen = F.greatest(F.col("block_min_doclen") * F.lit(self.lf),
                             F.lit(bm25.MIN_NORMLEN))
        denom = F.lit(bm25.K1) * (normlen * F.lit(bm25.B)
                                  + F.lit(1.0 - bm25.B)) \
            + F.col("block_max_wdf")
        part = F.col("block_max_wdf") / denom
        per_block = (self._scan_blocks(all_terms)
                     .select("term", "block", "n",
                             part.alias("part"))
                     .groupBy("term", "block")
                     .agg(F.max("part").alias("bpart"),
                          F.sum("n").alias("nd_t"))
                     .withColumn("contrib",
                                 coef_col[F.col("term")] * F.col("bpart"))
                     .groupBy("block")
                     .agg(F.sum("contrib").alias("ub"),
                          F.max("nd_t").alias("nd"))
                     .persist())
        try:
            totals = per_block.agg(
                F.count("block").alias("nb"),
                F.sum("nd").alias("docs_ub"),
                F.min("ub").alias("ub_lo"),
                F.max("ub").alias("ub_hi")).collect()[0]
            n_blocks = int(totals["nb"])
            if n_blocks == 0:
                return self._local_df(None, _WEIGHTS_SCHEMA)
            # degenerate bound distribution (every block's upper bound
            # identical — uniformly replicated corpora, WAND's worst
            # case): θ ≤ max achievable score ≤ that shared bound, so
            # the kept set is provably ALL blocks and the seed-scoring
            # pass would be pure waste — bail to the plain path before
            # paying it (round 6; the same conclusion was previously
            # reached only after 2-3 extra jobs).  Not under
            # prune='always' so tests still exercise the full sweep.
            if not force and n_blocks > 1 and \
                    float(totals["ub_lo"]) == float(totals["ub_hi"]):
                return None
            # decode-bytes auto-tune (ROADMAP r03): when the whole
            # candidate set is already small, decoding it outright is
            # cheaper than the seed-scoring pass — skip pruning.  Not
            # applied under prune='always' so the pruning path stays
            # test-covered on tiny fixtures.
            if not force and int(totals["docs_ub"] or 0) <= \
                    max(64 * k, 8192):
                return None
            # seed: best-bounded blocks until k docs are covered.  One
            # block usually suffices (nd up to block_span >= k); the
            # budget doubles on the rare shortfall.
            budget = 32
            seed: list = []
            while True:
                top = per_block.orderBy(F.desc("ub"), F.asc("block")) \
                    .limit(budget).collect()
                seed, covered = [], 0
                for r in top:
                    seed.append(int(r["block"]))
                    covered += int(r["nd"])
                    if covered >= k:
                        break
                if covered >= k or len(top) >= n_blocks:
                    break
                budget *= 2
            if len(seed) >= n_blocks:
                return None  # nothing to prune; run the plain path
            seed_ctx = dict(ctx)
            seed_ctx["blocks"] = set(seed)
            seed_rows = self._eval(node, seed_ctx) \
                .orderBy(F.desc("weight"), F.asc("doc_id")) \
                .limit(k).collect()
            if len(seed_rows) < k:
                return None  # not enough candidates to bound with
            theta = seed_rows[-1]["weight"]
            kept_df = per_block.filter(F.col("ub") >= theta) \
                .select("block")
            n_kept = kept_df.count()
            # observability (scripts/prune_stats.py): how much of the
            # candidate volume the bound sweep eliminated
            self._last_prune_stats = {
                "n_blocks": n_blocks, "seed": len(seed),
                "kept": n_kept,
                "docs_ub": int(totals["docs_ub"] or 0),
                "theta": float(theta),
            }
            if n_kept >= n_blocks:
                return None
            final_ctx = dict(ctx)
            if n_kept <= self.PRUNE_COLLECT_CAP:
                final_ctx["blocks"] = {int(r["block"])
                                       for r in kept_df.collect()} \
                    | set(seed)
            else:
                seed_df = self.spark.createDataFrame(
                    [(b,) for b in seed], "block bigint")
                # materialize NOW: the finally-block unpersist below
                # runs before the returned plan ever executes, so
                # without this the kept_df lineage (the whole posting-
                # metadata aggregation) would recompute at final query
                # time — exactly in the large-kept-set case the persist
                # targets (ADVICE r03)
                final_ctx["blocks_df"] = \
                    kept_df.unionByName(seed_df).distinct() \
                    .localCheckpoint(eager=True)
            return self._eval(node, final_ctx)
        finally:
            per_block.unpersist()

    @staticmethod
    def _greatest(weights: DataFrame) -> Optional[tuple]:
        """``(doc_id, weight)`` of the greatest-weight doc of kernel
        rows, ties by lowest doc_id; None when nothing matched."""
        top = weights.orderBy(F.desc("weight"), F.asc("doc_id")) \
            .limit(1).collect()
        return (top[0]["doc_id"], top[0]["weight"]) if top else None

    def percent_min_wt(self, node: Node, ctx: dict,
                       greatest: Optional[tuple],
                       percent_cutoff: int) -> Optional[float]:
        """Xapian percent-cutoff threshold (multimatch.cc:579-582,
        903-941) given the ``(doc_id, weight)`` of the greatest-weight
        doc: percent_scale = (subqueries matched by the greatest-weight
        doc / total subqueries) / greatest weight; keep docs with
        weight >= (pct/100 - DBL_EPSILON) / percent_scale.  The
        matched-subquery count is exact for unit-decomposable trees
        (the tree kernel on the driver over the greatest doc's block,
        one tagged spec per unit); other trees use ratio 1, which
        equals Xapian whenever the greatest doc matches every leaf
        (always true for AND-semantics trees)."""
        if greatest is None or greatest[1] <= 0:
            return None
        gdoc, gw = greatest
        units = self._scoring_units(node, ctx)
        if units:
            # the greatest doc lives in exactly one doc-range block, so
            # only that block of each term is read (a full posting scan
            # here would read every block at 10^12 docs)
            gblock = int(gdoc) // int(self.manifest["block_span"])
            items = [(str(i), ("leaf", [("term", [t], 1.0) for t in tm]))
                     for i, (_, tm) in enumerate(units)]
            hits = self._driver_eval(items, {**ctx, "blocks": {gblock}})
            gn = 0 if hits is None else \
                hits.loc[hits["doc_id"] == gdoc, "query_id"].nunique()
            ratio = gn / len(units)
        else:
            ratio = 1.0
        return (percent_cutoff / 100.0 - bm25.DBL_EPSILON) / (ratio / gw)

    # -- public API -----------------------------------------------------------

    def query_df(self, query: str, k: int = DEFAULT_K,
                 filters: Optional[Column] = None,
                 prune: str = "auto",
                 min_weight: float = 0.0,
                 percent_cutoff: int = 0) -> DataFrame:
        """Top-k as a DataFrame (doc_id, score), ties broken by doc_id.

        ``filters`` is a pyspark Column predicate over the docs table
        (e.g. ``array_contains(col('tags'), 'rust') & (col('date') >= e)``)
        applied *before* scoring at every leaf (north-rule pushdown).

        ``prune``: 'auto' enables block-max pruning for OR/term-only
        plans when the index spans multiple doc-range blocks; 'always'
        forces it (tests); 'never' disables.

        ``percent_cutoff`` mirrors Enquire::set_cutoff(percent)
        (omenquire.cc:872-876, multimatch.cc:579-582/903-941): keep
        docs whose weight >= (pct/100 - DBL_EPSILON) / percent_scale,
        where percent_scale = (subqueries matched by the greatest-weight
        doc / total subqueries) / greatest weight.  Disables pruning —
        the cutoff floor can sit below the top-k pruning threshold.

        A plan whose posting volume is under ``LOCAL_EVAL_ROWS`` is
        answered entirely on the driver:
        pyarrow dictionary probe, pyarrow posting read, the tree
        kernel's per-block function, percent-cutoff's greatest-doc
        probe, tombstone drop and a numpy top-k.  The result is an
        Arrow-backed local DataFrame, so collecting it (or
        ``fetch``-ing it) runs no Spark job.  ``filters`` still rank in
        Spark, over the driver-evaluated candidates as a local
        DataFrame; larger plans and ``prune='always'`` keep the
        distributed path."""
        node = parse_user_query(query, cjk_ngram=self.cjk_ngram)
        ctx = self._context([node], filters)
        if filters is None and prune != "always":
            items = [(None, self._compile_block_spec(node, ctx))]
            if self._on_driver(items, ctx):
                w = self._driver_eval(items, ctx)
                if w is not None and percent_cutoff:
                    g = _top_k(w, 1).iloc[0]
                    min_wt = self.percent_min_wt(
                        node, ctx, (g["doc_id"], g["score"]), percent_cutoff)
                    if min_wt is not None:
                        w = w[w["weight"] >= min_wt]
                if w is not None:
                    # weight cutoff (O5) before ranking, as below
                    w = _top_k(w[w["weight"] >= min_weight], k)
                return self._local_df(w, _SCORES_SCHEMA)
        weights = None
        if prune != "never" and filters is None and not percent_cutoff:
            units = self._scoring_units(node, ctx)
            if units:
                min_blocks = 1 if prune == "always" else 64
                if (self.N // int(self.manifest["block_span"])) + 1 \
                        >= min_blocks or prune == "always":
                    weights = self._eval_pruned(
                        node, ctx, k, units, force=(prune == "always"))
        if weights is None:
            weights = self._eval(node, ctx)
        if percent_cutoff:
            min_wt = self.percent_min_wt(node, ctx, self._greatest(weights),
                                         percent_cutoff)
            if min_wt is not None:
                weights = weights.filter(F.col("weight") >= min_wt)
        if min_weight > 0.0:
            # weight cutoff (O5, Enquire::set_cutoff)
            weights = weights.filter(F.col("weight") >= min_weight)
        return weights.select("doc_id",
                              F.col("weight").alias("score")) \
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search(self, query: str, k: int = DEFAULT_K,
               filters: Optional[Column] = None,
               offset: int = 0) -> list[tuple[int, float]]:
        """Ranked matches; ``offset`` mirrors ``get_mset(first, maxitems)``
        pagination (omenquire.cc:554-576)."""
        df = self.query_df(query, k + offset, filters)
        if offset:
            df = df.offset(offset)
        rows = df.collect()
        return [(r["doc_id"], r["score"]) for r in rows]

    def match_counts(self, query: str,
                     filters: Optional[Column] = None) -> dict:
        """Match-count estimate API (A4): Xapian reports lower/estimate/
        upper bounds (omenquire.cc:245-287); counting is cheap for us so
        all three are the exact count."""
        node = parse_user_query(query, cjk_ngram=self.cjk_ngram)
        n = self._eval(node, self._context([node], filters)).count()
        return {"matches_lower_bound": n, "matches_estimated": n,
                "matches_upper_bound": n}

    def collapse(self, query: str, key: str, k: int = DEFAULT_K,
                 filters: Optional[Column] = None) -> DataFrame:
        """Collapse (O5): keep the best-scoring doc per ``key`` column of
        the docs table (Enquire::set_collapse_key), then top-k."""
        from pyspark.sql import Window
        node = parse_user_query(query, cjk_ngram=self.cjk_ngram)
        weights = self._eval(node, self._context([node], filters))
        joined = weights.join(self.docs.select("doc_id", key), "doc_id")
        w = Window.partitionBy(key).orderBy(
            F.desc("weight"), F.asc("doc_id"))
        best = joined.withColumn("_rn", F.row_number().over(w)) \
            .filter(F.col("_rn") == 1).drop("_rn")
        return best.select("doc_id", key,
                           F.col("weight").alias("score")) \
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def batch_search(self, queries: dict, k: int = 10,
                     filters: Optional[Column] = None) -> DataFrame:
        """Evaluate a whole query log in ONE Spark action, ranked with
        a window per query.  Returns (query_id, doc_id, score, rank).
        This is how a training pipeline scores millions of queries —
        per-query job latency (~1 s floor) amortizes to throughput.

        Scale shape: the dictionary is consulted in ONE scan for the
        union of every query's terms and patterns (VERDICT r01 #7),
        and — new in r5 — every compilable query's tree evaluates
        inside ONE shared tree-kernel pass over ONE posting exchange:
        the scan covers the union of all queries' terms, and per block
        the posting decode, term membership, and BM25 denominators are
        computed once and reused by every query's spec.  A 10k-query
        log therefore costs one exchange + one decode of the union
        posting set, not 10k of each.  Every query compiles; MatchAll
        shapes add the docs' ``(block, doc_id)`` rows to their group's
        input.

        Volume cap (round 5, from the amp10000 measurement): ONE
        exchange is only a win while per-job overhead dominates; once
        the union posting volume is shuffle-bound the amortization
        inverts (13.9 vs 10.6 s/query at 3.56B postings).  The log is
        therefore split into groups whose estimated union volume
        (Σ df over the group's distinct terms, read off the dictionary
        rows already collected) stays under ``batch_rows_cap``; each
        group still shares one exchange, results are identical by
        construction (specs are independent — grouping only changes
        which exchange carries them).  A group under ``LOCAL_EVAL_ROWS``
        runs its shared pass on the driver instead (``_driver_eval``)
        and joins the ranking as a local DataFrame."""
        from pyspark.sql import Window
        nodes = {qid: parse_user_query(q, cjk_ngram=self.cjk_ngram)
                 for qid, q in queries.items()}
        ctx = self._context(nodes.values(), filters)
        spec_items = []
        for qid, node in nodes.items():
            spec = self._compile_block_spec(node, ctx)
            if spec != ("empty",):
                spec_items.append((str(qid), spec))
        tagged = None
        for group in self._batch_groups(spec_items, ctx):
            out = self._eval_specs(group, ctx, _TAGGED_SCHEMA)
            tagged = out if tagged is None else tagged.unionByName(out)
        if tagged is None:
            return self._local_df(None, _RANKED_SCHEMA)
        win = Window.partitionBy("query_id").orderBy(
            F.desc("weight"), F.asc("doc_id"))
        return (tagged.withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= k)
                .select("query_id", "doc_id",
                        F.col("weight").alias("score"), "rank"))

    def _batch_groups(self, spec_items: list, ctx: dict) -> list:
        """Split compiled batch specs into exchange groups of bounded
        estimated union volume (Σ df over each group's DISTINCT terms —
        shared terms cost a group nothing twice, so the packing charges
        only the increment).  Greedy in log order: deterministic, and a
        single over-budget query still runs alone (its volume is
        irreducible — per-query fallback would move the same rows)."""
        if not spec_items:
            return []
        cap = self.batch_rows_cap
        if cap is None:
            return [spec_items]
        dfs = ctx["dict"]["all"]

        def added_cost(inputs, have):
            # MatchAll's input, the ("all",) key, reads the N docs
            return sum(self.N if x == ("all",) else int(dfs[x]["df"])
                       for x in inputs - have if x == ("all",) or x in dfs)

        groups: list = []
        cur: list = []
        cur_inputs: set = set()
        cur_cost = 0
        for qid, spec in spec_items:
            terms, _, use_all = _spec_inputs([(qid, spec)])
            inputs = (terms | {("all",)}) if use_all else terms
            add = added_cost(inputs, cur_inputs)
            if cur and cur_cost + add > cap:
                groups.append(cur)
                cur, cur_inputs, cur_cost = [], set(), 0
                add = added_cost(inputs, cur_inputs)
            cur.append((qid, spec))
            cur_inputs |= inputs
            cur_cost += add
        if cur:
            groups.append(cur)
        return groups

    def suggest(self, word: str, max_edit_distance: int = 2) -> str:
        """Spelling suggestion (Q18, get_spelling_suggestion): trigram
        fragment index over the dictionary's word terms + edit-distance
        ranking; '' when the word needs no correction."""
        from .spell import suggest
        return suggest(self, word, max_edit_distance)

    def batch_suggest(self, words: list[str],
                      max_edit_distance: int = 2) -> dict[str, str]:
        """Spelling suggestions for a whole word list in one Spark job
        (the query-log-scale path, mirroring batch_search)."""
        from .spell import batch_suggest
        return batch_suggest(self, words, max_edit_distance)

    def get_eset(self, rset: list[int], maxitems: int = 20,
                 scheme: str = "trad", expand_k: float = 1.0,
                 min_wt: float = 0.0,
                 include_query_terms: bool = False,
                 query: Optional[str] = None) -> DataFrame:
        """Relevance-feedback expansion terms (Xapian ``get_eset``,
        omenquire.cc:609-654) for the relevant doc_ids ``rset`` —
        DataFrame ``(term, wt)``, weight descending.  When ``query`` is
        given and ``include_query_terms`` is False (the Xapian
        default), the query's exact terms are excluded
        (ExpandDeciderFilterTerms)."""
        from .eset import eset_df, query_exclude_terms
        exclude: list[str] = []
        if query and not include_query_terms:
            exclude = query_exclude_terms(query)
        return eset_df(self, rset, maxitems=maxitems, scheme=scheme,
                       expand_k=expand_k, min_wt=min_wt,
                       exclude_terms=exclude or None)

    def get_matching_terms(self, query: str, doc_id: int) -> DataFrame:
        """Terms of document ``doc_id`` that also occur in ``query``,
        ordered by the term's first occurrence in the query
        (Enquire::get_matching_terms, omenquire.cc:675-708: the
        termlist is intersected with the query's term map and sorted
        by ByQueryIndexCmp).  Returns (term, qindex); wildcard
        patterns contribute no terms (the Xapian query object holds
        the unexpanded pattern).  One pushed-down scan of the forward
        termlist — doc_id and the small term set both reach the
        parquet reader."""
        from .eset import _termlist, query_exclude_terms
        order: dict[str, int] = {}
        for t in query_exclude_terms(query):
            order.setdefault(t, len(order) + 1)
        if not order:
            return self._local_df(None, _MATCHING_TERMS_SCHEMA)
        qmap = F.create_map(*[F.lit(x) for kv in order.items()
                              for x in kv])
        return (_termlist(self)
                .filter((F.col("doc_id") == int(doc_id))
                        & F.col("term").isin(list(order)))
                .select("term", qmap[F.col("term")]
                        .cast("long").alias("qindex"))
                .orderBy("qindex"))

    # Serialization projections (P3, src/document.rs:248-284): which
    # fields each output mode carries.
    SERIALIZATIONS = {
        "storage": ["doc_id", "fullpath", "title", "subtitle", "authors",
                    "date", "tags", "weight", "writes", "views", "body",
                    "sha256"],
        "disk": ["doc_id", "title", "subtitle", "authors", "date", "tags",
                 "weight", "writes", "views"],
        "human": ["doc_id", "body"],
        "preview": ["doc_id", "body"],
    }

    def fetch(self, result_df: DataFrame, columns=("doc_id", "fullpath",
                                                   "title"),
              serialization: Optional[str] = None) -> DataFrame:
        """S5: materialize winners against the forward store.  The
        winner rows are collected (k of them; a driver-evaluated result
        is a local relation, so this runs no job) and ``docs/`` is
        probed with pyarrow for exactly those doc_ids under the
        committed gens — row-group statistics on the doc_id-sorted
        forward store prune the read — instead of a join that scans
        all of ``docs/``.  Returns a local DataFrame of the winners
        found in the forward store, in result order; columns of
        ``result_df`` win over same-named ``docs`` columns.
        ``serialization`` selects a reference projection (P3) instead
        of explicit columns."""
        if serialization is not None:
            columns = self.SERIALIZATIONS[serialization]
        cols = list(dict.fromkeys(list(columns) + ["score"]))
        res_fields = {f.name: f for f in result_df.schema.fields}
        doc_fields = {f.name: f for f in DOCS_SCHEMA.fields}
        unknown = [c for c in cols
                   if c not in res_fields and c not in doc_fields]
        if unknown:
            raise ValueError(f"fetch: unknown columns {unknown}")
        schema = StructType([res_fields[c] if c in res_fields
                             else doc_fields[c] for c in cols])
        rows = result_df.collect()
        if not rows:
            return self._local_df(None, schema)
        ids = np.array([r["doc_id"] for r in rows], dtype=np.int64)
        from_docs = [c for c in cols if c not in res_fields]
        probe = self._read(
            "docs", ["doc_id"] + from_docs,
            pc.field("doc_id").isin(pa.array(np.unique(ids))))
        pid = probe["doc_id"].to_numpy()
        order = np.argsort(pid)
        pos = np.searchsorted(pid[order], ids)
        hit = pos < len(pid)
        hit[hit] = pid[order[pos[hit]]] == ids[hit]
        take = pa.array(order[pos[hit]])
        kept = [r for r, h in zip(rows, hit) if h]
        tbl = pa.table({c: probe[c].take(take) if c in from_docs
                        else pa.array([r[c] for r in kept])
                        for c in cols})
        return self.spark.createDataFrame(tbl, schema=schema)

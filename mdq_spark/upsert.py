"""Incremental upsert — the reference's ``replace_document`` + commit
re-expressed for a distributed index (SURVEY.md S3/S4).

The reference upserts by identity term ``Q + fullpath``
(/root/reference/src/document.rs:185-188) with one commit per batch
(src/main.rs:110).  Here a batch upsert is:

1. incoming docs lose any ``doc_id`` they carry and are ordered by
   ``fullpath``;
2. the build's own stage graph (``IndexBuilder._run_stages``) runs over
   them as a new generation ``g``, on the executor their size picks.
   Its docs stage numbers them in that order from the manifest's
   ``next_doc_id``, so their posting blocks land in brand-new doc-range
   blocks — appends only; docs, terms, docstats, dict and postings
   files are appended to the index's directories (an upsert never
   resumes, so no ``partials/`` checkpoint outlives it);
3. committed docs whose ``fullpath`` matches one of the gen-``g``
   ``docs/`` rows the docs stage has just written are *tombstoned*
   (their doc_ids recorded; old posting blocks are never rewritten):
   a pyarrow ``is_in`` probe of the committed ``docs/``;
4. *negative* dictionary deltas for the tombstoned docs (computed
   exactly from their committed ``terms/`` rows, a pyarrow filter by
   the tombstoned ids grouped by (term, bucket)) go to ``dict_delta/``
   so df/cf stay exact without rewriting ``dict/``.  Both scans read
   one or two columns and keep only rows about as many as the batch's
   (index writers take local paths only, so pyarrow reads any index);
5. ``globalstats`` is recomputed exactly from docstats minus tombstones;
6. the manifest records the new generation (the "commit").

Crash atomicity (ADVICE r01): every appended row carries the new
generation id in a ``gen`` column, and Searcher only reads rows whose
gen appears in the manifest's ``committed_gens`` list.  The manifest
write is therefore the commit point — a crash at ANY earlier step
leaves only rows with an uncommitted gen, which stay invisible forever
(and are dropped by the next compact()).  A retry allocates a fresh gen
past any orphans, so partial leftovers can never be double-counted.
Files land in directories that already hold committed ones, so each is
written under a name readers skip and renamed into place when complete
(Spark's committer, or ``build._write_stage`` on the driver): a write
cut short leaves no truncated file in view.
In production the appends + manifest write map to an Iceberg MERGE
INTO + snapshot commit (SURVEY.md §1.4).

Query-side (search.py) merges dict rows + deltas per term and anti-joins
tombstones after decode, so results equal a from-scratch rebuild of the
current corpus — asserted by tests.  ``compact()`` is the merge step
that folds tombstones away: it merges the index's own encoded posting
runs, less the tombstoned docs, into a fresh generation-0 index and
never tokenizes (a tokenizer change needs ``build_index`` over the
docs); ``upsert(..., auto_compact_ratio=r)`` triggers it automatically
when the tombstone ratio exceeds ``r``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .build import (
    FORMAT_VERSION, IndexBuilder, PostingRuns, _DIR_SCHEMAS, _STAGES,
    _doc_shape, _gstats_of, _read_table, _with_gen, _write_globalstats,
    _write_stage, local_dir,
)

# An upsert runs every build stage except globalstats, which it
# recomputes over all live docs, and resumes none: a crashed attempt
# stays invisible, and its retry starts over in a fresh generation.
_UPSERT_STAGES = frozenset(_STAGES) - {"globalstats"}


def _write_manifest(index_dir: str, m: dict) -> None:
    path = os.path.join(index_dir, "manifest.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=2)
    os.replace(tmp, path)  # atomic on POSIX — this IS the commit


def _tombstoned(index_dir: str, committed: list) -> pa.Array:
    """The doc ids the committed ``tombstones/`` rows name.  A first
    tombstone write cut short leaves the directory with only a hidden
    file in it."""
    path = f"{index_dir}/tombstones"
    if not (os.path.exists(path) and pads.dataset(path).files):
        return pa.array([], pa.int64())
    return _read_table(path, ["doc_id"], committed) \
        .column("doc_id").combine_chunks()


def _replaced_ids(index_dir: str, committed: list, gen: int) -> pa.Array:
    """The committed doc ids whose ``fullpath`` one of the gen-``gen``
    ``docs/`` rows holds (the Q+fullpath identity, S3)."""
    docs = f"{index_dir}/docs"
    paths = pc.drop_null(_read_table(docs, ["fullpath"], [gen])
                         .column("fullpath").combine_chunks())
    return _read_table(docs, ["doc_id"], committed,
                       pc.field("fullpath").isin(paths)) \
        .column("doc_id").combine_chunks()


def _write_deltas(index_dir: str, committed: list, gen: int,
                  tombs: pa.Array) -> None:
    """Generation ``gen``'s exact negative dictionary deltas for the
    docs ``tombs`` names, from their committed ``terms/`` rows (so an
    orphan row sharing one of their ids is left out): per (term,
    bucket), ``ddf`` = -(their rows) and ``dcf`` = -(Σ their wdf)."""
    rows = _read_table(f"{index_dir}/terms", ["term", "bucket", "wdf"],
                       committed, pc.field("doc_id").isin(tombs))
    g = rows.group_by(["term", "bucket"]).aggregate(
        [("wdf", "count"), ("wdf", "sum")])
    delta = pa.table([g["term"], g["bucket"], pc.negate(g["wdf_count"]),
                      pc.negate(g["wdf_sum"])],
                     schema=to_arrow_schema(_DIR_SCHEMAS["dict_delta"]))
    _write_stage(f"{index_dir}/dict_delta",
                 {"": _with_gen(delta.sort_by("term"), gen)},
                 ["term", "gen"], gen)


def upsert(spark: SparkSession, index_dir: str,
           new_docs_df: DataFrame,
           auto_compact_ratio: float | None = None,
           spelling: bool = False) -> dict:
    """Batch upsert keyed by fullpath.  ``new_docs_df`` must have the
    DOCS_SCHEMA columns; ``doc_id`` is optional and ignored, since the
    build's docs stage numbers the batch in fullpath order past the
    committed ids.  ``auto_compact_ratio``: if set, a compaction
    runs in place after the commit when tombstones exceed that fraction
    of total docs.  ``spelling``: rebuild the spelling fragment table
    after the commit (the old table is generation-stale the moment the
    commit lands, so readers fall back until the rebuild publishes)."""
    index_dir = local_dir(index_dir)
    with open(os.path.join(index_dir, "manifest.json")) as f:
        m = json.load(f)
    if int(m.get("format_version", 1)) != FORMAT_VERSION:
        raise ValueError(
            f"index at {index_dir} is format v{m.get('format_version')}, "
            f"this build writes v{FORMAT_VERSION}: run compact() (or "
            f"rebuild) before upserting")
    committed = [int(g) for g in m.get("committed_gens", [0])]
    docs_path = f"{index_dir}/docs"
    # fresh gen PAST every committed gen and every orphan append from a
    # crashed attempt: docs is the first artifact an attempt writes, so
    # orphan gens appear there (a build that rewrites docs/ removes the
    # upserts' other artifacts with it)
    on_disk = pc.max(_read_table(docs_path, ["gen"]).column("gen")).as_py()
    gen = max(committed + [on_disk or 0]) + 1

    # 1-2. the build's stages as generation ``gen``, all appends that
    # stay invisible until the commit.  The docs stage numbers the batch
    # in fullpath order past the committed maximum; orphan rows from a
    # crashed attempt may share these ids — harmless, since only one gen
    # holding a given doc_id can ever be committed.  The dictionary goes
    # to the live dict_dir, which fold_dict_deltas may have moved.
    next_id = int(m["next_doc_id"])
    builder = IndexBuilder(spark, index_dir, block_span=int(m["block_span"]),
                           n_buckets=int(m["n_buckets"]),
                           mode=m.get("mode", "xapian"),
                           cjk_ngram=bool(m.get("cjk_ngram", False)))
    res = builder._run_stages(
        _doc_shape(new_docs_df.drop("doc_id")).orderBy("fullpath"),
        _UPSERT_STAGES, gen, m.get("dict_dir", "dict"), next_id)
    n_new = int(res["n_docs"])

    # 3. tombstones for replaced fullpaths: the committed docs sharing
    # a path with the batch, less those already tombstoned
    old_tombs = _tombstoned(index_dir, committed)
    replaced = _replaced_ids(index_dir, committed, gen)
    tombs = pc.unique(replaced.filter(pc.invert(pc.is_in(replaced,
                                                         old_tombs))))
    if len(tombs):
        # 4. exact negative dict deltas for the tombstoned docs
        _write_deltas(index_dir, committed, gen, tombs)
        _write_stage(f"{index_dir}/tombstones",
                     {"": _with_gen(pa.table({"doc_id": tombs}), gen)},
                     ["doc_id", "gen"], gen)

    # 5. exact global stats over the live docs as of this gen, in a
    # gen-tagged file that stays invisible until the commit
    dead = pa.concat_arrays([old_tombs, tombs])
    stats = _read_table(f"{index_dir}/docstats", ["doc_id", "doclen"],
                        committed + [gen])
    gs = _gstats_of(stats.filter(
        pc.invert(pc.is_in(stats.column("doc_id"), dead))))
    _write_globalstats(f"{index_dir}/globalstats", gs, gen)

    # 6. commit
    m["generation"] = gen
    m["committed_gens"] = committed + [gen]
    m["next_doc_id"] = next_id + n_new
    m["globalstats"] = {k: float(v) if v is not None else None
                        for k, v in gs.items()}
    m.setdefault("upserts", []).append({
        "gen": gen, "n_new": n_new, "ts": time.time(),
        "executor": res["executor"],
    })
    _write_manifest(index_dir, m)

    if auto_compact_ratio is not None:
        n_live = int(gs["n_docs"] or 0)
        n_tomb = len(pc.unique(dead))
        total = n_live + n_tomb
        if total and n_tomb / total >= auto_compact_ratio:
            m = compact_in_place(spark, index_dir)
    if spelling:
        from .search import Searcher
        from .spell import build_spelling
        build_spelling(Searcher(spark, index_dir))
    return m


def fold_dict_deltas(spark: SparkSession, index_dir: str) -> None:
    """Maintenance (lighter than compact): fold ``dict_delta/`` into
    the dictionary so query-side lookups stop paying the delta merge,
    without touching postings or tombstones.  The folded dictionary is
    one exact row per (term, bucket) — df/cf summed over generations
    with deltas applied, wdf_max the max over rows (the same value the
    pre-fold per-lookup merge produced).

    Crash safety (ADVICE r02): the folded copy is written to a fresh
    sibling dir and the switch is a single atomic manifest replace —
    the manifest's ``dict_dir`` points at the live dictionary and
    ``delta_folded_gens`` lists the delta generations already baked in
    (readers skip them, so a crash between the manifest commit and the
    delta-dir cleanup can never double-apply a delta).  A crash at ANY
    point leaves either the old state (pointer unmoved) or the new one
    (pointer moved, stale dirs ignored) — never a partial or missing
    dictionary."""
    from .search import Searcher
    index_dir = local_dir(index_dir)
    s = Searcher(spark, index_dir)
    m, committed, cur_dir = s.manifest, s.committed, s.dict_dir
    gen = max(committed)
    # fresh dir per fold; a re-fold at the same gen alternates suffixes
    # so it never overwrites the live dictionary it is reading from
    new_dir = f"dict_fold_g{gen}"
    if new_dir == cur_dir:
        new_dir = f"dict_fold_g{gen}_r"
    (s._dict_totals()
     .withColumn("gen", F.lit(gen))
     .repartition("tpfx", "bucket").sortWithinPartitions("term")
     .write.mode("overwrite").partitionBy("tpfx")
     .parquet(f"{index_dir}/{new_dir}"))
    # atomic commit: point readers at the folded copy and mark every
    # folded delta generation as baked-in
    m["dict_dir"] = new_dir
    m["delta_folded_gens"] = sorted(
        set(m.get("delta_folded_gens", []) + committed))
    _write_manifest(index_dir, m)
    # cleanup (safe at any time after the commit; a crash here only
    # leaves ignored garbage)
    if cur_dir != new_dir:
        shutil.rmtree(f"{index_dir}/{cur_dir}", ignore_errors=True)
    shutil.rmtree(f"{index_dir}/dict_delta", ignore_errors=True)


def compact(spark: SparkSession, index_dir: str, out_dir: str) -> dict:
    """Fold tombstones away: write at ``out_dir`` a fresh generation-0
    index of the live docs (the merge step; run when the tombstone ratio
    grows).  It merges the index's own encoded posting runs, less the
    tombstoned docs (``build.PostingRuns``), and never tokenizes: doc
    ids, ``block_span`` and the tokenizer settings are kept, so a
    tokenizer change needs ``build_index`` over the docs instead.  Only
    committed generations are read, so orphan rows from crashed upserts
    are dropped here.  The executor and ``n_buckets`` follow the live
    docs' size estimate, as a fresh build's do; a driver-sized
    compaction runs no Spark job."""
    from .search import Searcher
    index_dir = local_dir(index_dir)
    s = Searcher(spark, index_dir)
    m, docs = s.manifest, s.docs
    if s.tombstones is not None:
        docs = docs.join(s.tombstones, "doc_id", "left_anti")
    runs = PostingRuns(index_dir, s.committed,
                       _tombstoned(index_dir, s.committed),
                       int(m["n_buckets"]))
    builder = IndexBuilder(spark, out_dir, block_span=int(m["block_span"]),
                           mode=m.get("mode", "xapian"),
                           cjk_ngram=bool(m.get("cjk_ngram", False)))
    return builder.build(docs, force=True, runs=runs)


def recover_swap(index_dir: str) -> None:
    """Crash recovery for compact_in_place's two-rename swap (ADVICE
    r02): a crash between the renames leaves no ``index_dir`` but a
    complete ``.compact_tmp`` (the new index — compact() finished before
    the swap began) and/or a ``.compact_old`` (the pre-compact index).
    Roll FORWARD to the tmp when it holds a complete manifest, else
    roll back to the old.  Called by Searcher/upsert/compact on open;
    a no-op when the index dir exists."""
    index_dir = index_dir.rstrip("/")
    if os.path.exists(os.path.join(index_dir, "manifest.json")):
        return
    tmp = index_dir + ".compact_tmp"
    old = index_dir + ".compact_old"
    if not os.path.exists(index_dir):
        if os.path.exists(os.path.join(tmp, "manifest.json")):
            os.rename(tmp, index_dir)
        elif os.path.exists(os.path.join(old, "manifest.json")):
            os.rename(old, index_dir)


def compact_in_place(spark: SparkSession, index_dir: str) -> dict:
    """Compact into a sibling temp dir, then swap it in.  The swap is
    two renames; the manifest inside the new dir is complete before the
    swap, so a reader that re-opens mid-swap sees either the old or the
    new index — and a crash *between* the renames (no dir at
    ``index_dir``) is rolled forward on the next open by
    ``recover_swap`` (ADVICE r02)."""
    index_dir = local_dir(index_dir)
    recover_swap(index_dir)
    tmp = index_dir + ".compact_tmp"
    old = index_dir + ".compact_old"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    manifest = compact(spark, index_dir, tmp)
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(index_dir, old)
    os.rename(tmp, index_dir)
    shutil.rmtree(old)
    return manifest

#!/usr/bin/env python
"""Regenerate docs/PLANS.md from a live index (VERDICT r04 #6: the
captured plans must match what ``explain()`` prints at current HEAD).

Captures ``explain("formatted")`` for the plan shapes the engine's
design claims hinge on.  ``Searcher.LOCAL_EVAL_ROWS`` is set to 0 so
every plan takes the block exchange (a small index would otherwise be
answered on the driver, whose plan is a bare LocalTableScan):

* partition pruning on the dict/postings bucket dirs + pushed term
  filters + column pruning (positions only read for positional plans);
* the one evaluator: every plan shape — boolean, positional-under-
  boolean, SYNONYM under AND, MatchAll — is ONE exchange into ONE
  mapInArrow tree kernel, with no join;
* TakeOrderedAndProject top-k;
* (when a prunable multi-block index is present in _idx_cache, e.g.
  after scripts/bench_scaling.py at amp>=100) the block-max pruned
  scan with the kept-block filter pushed into the posting scan.

``fetch`` is not captured: it probes ``docs/`` with pyarrow, so it has
no Spark plan.

Usage: python scripts/capture_plans.py
"""

from __future__ import annotations

import contextlib
import glob
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main() -> None:
    from pyspark.sql import functions as F
    from mdq_spark.entry_queries import ensure_index
    from mdq_spark.search import Searcher
    from mdq_spark.session import get_spark

    spark = get_spark("mdq-plans", cores=8, shuffle_partitions=8)
    s = ensure_index(spark, "/root/testdata/sf0.001", "xapian")
    Searcher.LOCAL_EVAL_ROWS = 0  # capture the exchange path's plans

    sections: list[tuple[str, str, str]] = []

    def cap(title: str, note: str, df) -> None:
        # index paths relative to the checkout, so the doc is portable
        sections.append((title, note, plan_of(df).replace(REPO, "<repo>")))

    cap("single-term BM25 top-10: query_df('sort ', prune='never')",
        "Bucket partition pruning + pushed `term` filter on the posting "
        "scan; the parsed free-text shape is `(WILDCARD sort OR Zsort)`, "
        "and every expansion term rides the tree kernel's single "
        "exchange; `positions` is absent from ReadSchema (column "
        "pruning).",
        s.query_df("sort ", k=10, prune="never"))
    cap("boolean tree: query_df('sort AND NOT merge')",
        "The whole AND_NOT tree folds block-locally: ONE Exchange of "
        "encoded rows, no join operator anywhere in the plan "
        "(VERDICT r03 #5; the r4 bench's q4 shape).",
        s.query_df("sort AND NOT merge", k=10, prune="never"))
    cap("boolean tree: query_df('sort AND MAYBE merge')",
        "AND_MAYBE through the same tree kernel (the r4 bench's q5 "
        "shape): one exchange, weights folded in numpy masks.",
        s.query_df("sort AND MAYBE merge", k=10, prune="never"))
    cap("phrase: query_df('\"the fast\" ', prune='never')",
        "Positional plan: `positions` IS in ReadSchema (decoded only "
        "at AND-survivor indices inside the kernel), still one "
        "exchange.",
        s.query_df('"the fast" ', k=10, prune="never"))
    cap("positional under boolean: query_df('\"the fast\" AND NOT slow')",
        "A PHRASE leaf inside a boolean tree compiles to a 'pos' spec in "
        "the same kernel — still ONE exchange, no join.",
        s.query_df('"the fast" AND NOT slow', k=10, prune="never"))
    cap("wildcard: query_df('sor* ')",
        "Prefix expansion scans only the first-byte dict partition "
        "(tpfx) and the expansion scores as one SYNONYM member inside "
        "the tree kernel.",
        s.query_df("sor* ", k=10, prune="never"))
    cap("synonym under AND: query_df('sort SYNONYM merge AND fast')",
        "SYNONYM compiles to one `syn` member of the kernel (wdf summed "
        "per listed term), so a SYNONYM nested under another operator "
        "is the same single exchange as any other tree.",
        s.query_df("sort SYNONYM merge AND fast", k=10, prune="never"))
    cap("pure NOT: query_df('NOT sort AND fast')",
        "`<alldocuments> AND_NOT sort AND fast`: MatchAll compiles to an "
        "'all' spec; the docs' `(block, doc_id)` rows union into the "
        "posting rows ahead of the one exchange, so the kernel sees "
        "every live doc of its block.",
        s.query_df("NOT sort AND fast", k=10, prune="never"))
    cap("metadata-filtered: query_df('sort merge', filters=...)",
        "The docs-table predicate restricts doc_ids BEFORE scoring "
        "(semi-join at the kernel output; the docs scan carries the "
        "pushed tag filter).",
        s.query_df("sort merge", k=10, prune="never",
                   filters=F.array_contains(F.col("tags"), "en")))

    # pruned-path plan from the largest amp index available (built by
    # scripts/bench_scaling.py); skipped silently when absent
    amps = sorted(glob.glob(os.path.join(
        REPO, "_idx_cache", "bench_amp*_c*")), reverse=True)
    for idx_dir in amps:
        if not os.path.exists(os.path.join(idx_dir, "manifest.json")):
            continue
        sa = Searcher(spark, idx_dir)
        if (sa.N // int(sa.manifest["block_span"])) + 1 < 2:
            continue
        cap(f"block-max pruned OR: query_df('sort merge join', "
            f"prune='always') on {os.path.basename(idx_dir)}",
            "The kept-block set (bound sweep result) reaches the "
            "posting scan as a pushed-down `block IN (...)` partition-"
            "level filter (or a broadcast semi-join above the constant "
            "cap) — only surviving doc-range blocks are decoded.",
            sa.query_df("sort merge join", k=10, prune="always"))
        break

    md = ["# Captured physical plans (`.explain(\"formatted\")`)", ""]
    md.append(
        "Generated by `python scripts/capture_plans.py` from a live "
        "index (sf0.001, xapian mode) at current HEAD — the artifacts "
        "that show Catalyst doing what the engine is designed around: "
        "partition pruning on the term-hash bucket dirs, parquet data "
        "filters on `term`, column pruning (the binary `positions` "
        "payload is only read for positional plans), and the one "
        "evaluator: every plan shape is a single exchange into a single "
        "mapInArrow tree kernel. `Searcher.LOCAL_EVAL_ROWS` is 0 here, so "
        "these are the exchange path's plans; under that volume check a "
        "query runs on the driver and its plan is a LocalTableScan.")
    md.append("")
    for title, note, plan in sections:
        md.append(f"## {title}")
        md.append("")
        md.append(note)
        md.append("")
        md.append("```")
        md.append(plan)
        md.append("```")
        md.append("")
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(md))
    print(f"wrote docs/PLANS.md with {len(sections)} plans")


if __name__ == "__main__":
    main()

"""Correctness checks, run outside every timed section.

The reference is ``mdq_spark.oracle.OracleIndex``: a pure-Python index
over the live document set, with doc ids assigned the way the engine
assigns them (dense by ``(repo, path)`` for a build, dense by
``fullpath`` past the previous maximum for an upsert, unchanged by a
compaction), so ties are broken identically.  Its answers are cached
per seed and index state beside the inputs.
"""

from __future__ import annotations

import json
import os

from mdq_spark.corpus import doc_from_code_row
from mdq_spark.oracle import OracleIndex

SCORE_TOL = 1e-9


def _doc(doc_id: int, r: dict) -> dict:
    return doc_from_code_row(doc_id, r["repo"], r["path"], r["commit"],
                             r["lang"], r["content"])


class LiveSet:
    """The documents an index should hold, keyed by engine doc id."""

    def __init__(self, corpus_rows: list[dict]):
        order = sorted(corpus_rows, key=lambda r: (r["repo"], r["path"]))
        self.docs = {i + 1: _doc(i + 1, r) for i, r in enumerate(order)}
        self.by_path = {d["fullpath"]: i for i, d in self.docs.items()}
        self.next_id = len(order) + 1

    def upsert(self, rows: list[dict]) -> None:
        new = sorted((_doc(0, r) for r in rows), key=lambda d: d["fullpath"])
        for k, d in enumerate(new):
            old = self.by_path.pop(d["fullpath"], None)
            if old is not None:
                del self.docs[old]
            d["doc_id"] = self.next_id + k
            self.docs[d["doc_id"]] = d
            self.by_path[d["fullpath"]] = d["doc_id"]
        self.next_id += len(new)

    def compact(self) -> None:
        self.next_id = max(self.docs) + 1


def expected_answers(cache_path: str, docs: dict, queries: list[dict],
                     k: int) -> dict:
    """The oracle's answers over ``docs`` (``{doc_id: document}``): query
    id to ``[[doc_id, score], ...]``.  Read from ``cache_path`` when an
    earlier run stored it."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    oracle = OracleIndex.build([docs[i] for i in sorted(docs)])
    answers = {}
    for q in queries:
        pred = None
        if q.get("lang"):
            lang = q["lang"]
            pred = lambda d, lang=lang: lang in d["tags"]  # noqa: E731
        answers[q["id"]] = [[int(d), float(s)]
                            for d, s in oracle.search(q["q"], k=k,
                                                      predicate=pred)]
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(answers, f)
    os.replace(tmp, cache_path)
    return answers


def same_ranking(expected: list, actual: list) -> bool:
    """Rank and score identity up to reordering inside exact-tie
    groups (the comparison the engine's own parity tests use)."""
    if len(expected) != len(actual):
        return False
    e = {int(d): s for d, s in expected}
    a = {int(d): s for d, s in actual}
    if set(e) != set(a):
        return False
    if any(abs(e[d] - a[d]) > SCORE_TOL * max(1.0, abs(e[d])) for d in e):
        return False

    def groups(res):
        out, cur, cur_s = [], [], None
        for d, s in res:
            if cur and abs(s - cur_s) > SCORE_TOL * max(1.0, abs(cur_s)):
                out.append(sorted(cur))
                cur = []
            cur.append(int(d))
            cur_s = s
        if cur:
            out.append(sorted(cur))
        return out
    return groups(expected) == groups(actual)


def serve_rows_ok(rows: list, expected: list, docs: dict) -> bool:
    """``rows`` are the serve shape ``(doc_id, fullpath, title, score)``
    as collected (a join, so unordered): the ranking must match the
    oracle's and every winner must carry its document's path and
    title."""
    ranked = sorted(rows, key=lambda r: (-r[3], r[0]))
    if not same_ranking(expected, [(r[0], r[3]) for r in ranked]):
        return False
    for doc_id, fullpath, title, _ in ranked:
        d = docs.get(int(doc_id))
        if d is None or d["fullpath"] != fullpath or d["title"] != title:
            return False
    return True

"""Independent DuckDB oracle for the full Xapian-mode query chain.

Closes VERDICT r03 #1: the five ``xq_*`` driver entries previously had
no non-Python oracle because the Xapian tokenizer (T1-T3) is not
SQL-expressible.  The tokenizer is the ONLY part taken as given here —
its per-(doc, term) output rows are materialized to a parquet
("term rows"), and everything downstream of tokenization is re-derived
by DuckDB from those raw rows alone:

* collection stats (N, doclen = Σ wdf incl. Z rows, avgdl)        — A2/A3
* per-term df and the Xapian-BM25 termweight fold (tw<2 floor)     — §2.7
* per-(doc, term) sumparts with the k1/b/min_normlen denominator   — §2.7
* wildcard SYNONYM expansion (LIKE prefix, df = min(N, Σ df))      — Q5
* boolean algebra OR/AND/AND_NOT/AND_MAYBE/FILTER/XOR              — Q6-Q11
* PHRASE/NEAR positional checks from the stored position lists     — Q12/Q13
* top-k with the docid-ascending tie-break                          — O1/O2

The term-rows export is PURE PYTHON (pyarrow, no Spark): it applies the
same two deterministic functions the engine's build kernel runs —
``corpus.doc_from_documents_row`` (the parity-tested twin of the native
ingest expressions) and ``tokenize.document_term_rows`` (the exact
function the fused ``build._tokenize_encode_batches`` kernel calls per
document) — so the parquet is the engine's own forward termlist
re-derived independently of Spark; ``tests/test_xq_oracle.py`` asserts
row-for-row identity (wdf and positions) against a real index build's
``postings/``.  Being Spark-free means
``oracle_sql()`` can (re)generate it at registration time, so the
DuckDB side never depends on the Spark side having run first.

The query plan (which terms, which operator tree) is computed by
``queryparse.parse_user_query`` at SQL-generation time — the same
precedent as the spelling oracle's fragment scheme; the parse itself is
pinned by byte-identical golden descriptions from the reference's own
unit tests (tests/test_queryparse.py).

Reference chain being verified end-to-end:
``/root/reference/src/interactive/xapian_utils.rs:578-703`` (parse) ->
Xapian QueryParser subset -> BM25 ranking (omenquire.cc:565-567).
"""

from __future__ import annotations

import json
import os
from typing import Optional

from .plan import (
    Bool, MatchAll, MatchNothing, Node, Positional, Scaled, Term,
    ValueRange, Wildcard,
)

# bump when the export layout or tokenizer semantics change
TERMROWS_VERSION = 2

# the partition key carries a CONTENT digest alongside the row count
# (ADVICE r04: two corpora with equal row counts must not collide, and
# a content change that preserves rows/bytes must not go stale).  The
# digest is computed by DuckDB itself — the same expression the oracle
# SQL evaluates over the ``documents`` view — so both sides always
# agree on it.  Modulo keeps the UBIGINT sum inside BIGINT range for
# hive-partition type inference.
_DIGEST_EXPR = "sum(hash(doc_id, text, lang, source)) % 1000000000000000"


def _corpus_key(src: str) -> tuple[int, int]:
    """(row count, content digest) of a documents parquet, via DuckDB."""
    import duckdb
    nd, dg = duckdb.execute(
        f"SELECT count(*), {_DIGEST_EXPR} FROM read_parquet(?)",
        [src]).fetchone()
    return int(nd), int(dg or 0)


def termrows_root(cjk: bool = False) -> str:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(repo, "_idx_cache", "xq_termrows")
    # the FLAG_CJK_NGRAM exports tokenize a cjk_augment()ed corpus, so
    # they live under their own root (same nd/dg partition scheme)
    return os.path.join(base, "cjk") if cjk else base


# ---------------------------------------------------------------------------
# term-rows export (pure Python — no SparkSession needed)
# ---------------------------------------------------------------------------

def ensure_termrows(sf_dir: str, cjk: bool = False) -> Optional[int]:
    """Materialize the engine's per-(doc, term) rows for ``sf_dir``'s
    documents table under ``termrows_root(cjk)/nd=<n_docs>/dg=<digest>/``.

    Partitioned by the corpus row count AND a DuckDB-computed content
    digest so one oracle SQL string works at any scale factor and two
    corpora can never collide or go silently stale (ADVICE r04): the
    SQL selects the partition whose (nd, dg) equal the same expressions
    evaluated over the ``documents`` view.  Idempotent: a matching
    meta.json short-circuits.  Returns the nd key, or None when
    ``sf_dir`` has no documents table.

    ``cjk=True``: the FLAG_CJK_NGRAM gate variant — the text is first
    transformed with ``corpus.cjk_augment`` (original + transliterated
    prefix) and tokenized with ``cjk_ngram=True``; the (nd, dg) key is
    still computed over the UNTRANSFORMED source so the SQL's partition
    filter over the plain ``documents`` view keeps working.
    """
    src = os.path.join(sf_dir.rstrip("/"), "documents.parquet")
    if not os.path.exists(src):
        return None
    nd, dg = _corpus_key(src)
    out = os.path.join(termrows_root(cjk), f"nd={nd}", f"dg={dg}")
    mpath = os.path.join(out, "meta.json")
    fingerprint = {
        "version": TERMROWS_VERSION,
        "n_rows": nd,
        "digest": dg,
        "src": os.path.abspath(src),
        "src_bytes": os.path.getsize(src),
        "cjk": cjk,
    }
    if os.path.exists(mpath):
        try:
            with open(mpath) as f:
                if json.load(f) == fingerprint:
                    return nd
        except (OSError, ValueError):
            pass

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .build import _varint
    from .codec import decode_positions
    from .corpus import cjk_augment, doc_from_documents_row
    from .tokenize import document_term_rows

    tbl = pq.read_table(src, columns=["doc_id", "text", "lang", "source"])
    doc_ids: list[int] = []
    terms: list[str] = []
    wdfs: list[int] = []
    poss: list[Optional[list[int]]] = []
    for did, text, lang, source in zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("text").to_pylist(),
            tbl.column("lang").to_pylist(),
            tbl.column("source").to_pylist()):
        if cjk:
            text = cjk_augment(text)
        doc = doc_from_documents_row(did, text, lang, source)
        agg, _doclen = document_term_rows(doc, cjk_ngram=cjk)
        for term, ent in agg.items():
            wdf, buf, _last = ent
            doc_ids.append(doc["doc_id"])  # engine id (1-based)
            terms.append(term)
            wdfs.append(wdf)
            if buf is None:  # Z-stem row: no positions
                poss.append(None)
            else:
                # staging blob layout: varint(count) + gap varints —
                # decoded with the same codec the query kernel uses
                blob = _varint(wdf) + bytes(buf)
                poss.append(
                    decode_positions(blob, 1)[0].astype("int64").tolist())
    out_tbl = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "term": pa.array(terms, pa.string()),
        "wdf": pa.array(wdfs, pa.int32()),
        "positions": pa.array(poss, pa.list_(pa.int32())),
    })
    tmp = out + ".tmp"
    import shutil
    for p in (tmp, out):
        if os.path.exists(p):
            shutil.rmtree(p)
    os.makedirs(tmp)
    pq.write_table(out_tbl, os.path.join(tmp, "part-00000.parquet"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(fingerprint, f)
    os.rename(tmp, out)
    # hygiene: drop sibling exports of OLDER contents of this same
    # source file (superseded digests); exports of other corpora that
    # happen to share the row count are left alone — they no longer
    # collide now that dg is part of the key
    nd_dir = os.path.dirname(out)
    for d in os.listdir(nd_dir):
        p = os.path.join(nd_dir, d)
        if p == out:
            continue
        if not d.startswith("dg="):
            # pre-v2 flat layout (files directly under nd=): remove so
            # the hive glob never sees mixed partition depths
            (os.remove if os.path.isfile(p) else shutil.rmtree)(p)
            continue
        try:
            with open(os.path.join(p, "meta.json")) as f:
                if json.load(f).get("src") == fingerprint["src"]:
                    shutil.rmtree(p)
        except (OSError, ValueError):
            pass
    return nd


# ---------------------------------------------------------------------------
# plan -> DuckDB SQL compiler
# ---------------------------------------------------------------------------

def _q(s: str) -> str:
    return s.replace("'", "''")


def _like(prefix: str) -> str:
    """LIKE pattern for a term prefix, with metacharacters escaped."""
    esc = prefix.replace("\\", "\\\\").replace("%", "\\%") \
        .replace("_", "\\_")
    return f"'{_q(esc)}%' ESCAPE '\\'"


class _SqlGen:
    """Recursive plan -> CTE-chain renderer.

    Every node becomes a CTE producing at most one ``(doc_id, s)`` row
    per document; node semantics mirror plan.py's table (and
    search._tree_block_fn / oracle.py), so the SQL is a third, independent
    implementation of the same operator algebra.
    """

    def __init__(self) -> None:
        self.ctes: list[str] = []
        self.n = 0

    def _name(self, kind: str) -> str:
        self.n += 1
        return f"{kind}{self.n}"

    def _add(self, name: str, body: str) -> str:
        self.ctes.append(f"{name} AS ({body})")
        return name

    # -- leaves ----------------------------------------------------------

    def _unit(self, tf_body: str, df_expr: str) -> str:
        """Scoring unit: per-doc summed wdf + a scalar df -> BM25 rows.

        Formula identical to bm25.termweight/sumpart with the defaults
        the engine uses (k1=1, b=0.5, min_normlen=0.5, k3=1 & wqf=1 so
        the wqf factor is 1): s = 2·ln(fold(tw)) · wdf / (denom + wdf),
        fold(tw) = tw·0.5 + 1 when tw < 2 (bm25weight.cc:106).
        """
        t = self._add(self._name("t"), tf_body)
        d = self._add(self._name("d"), df_expr.format(t=t))
        return self._add(self._name("w"), f"""
  SELECT t.doc_id,
         2 * ln(CASE WHEN x.tw < 2 THEN x.tw * 0.5 + 1 ELSE x.tw END)
           * t.wdf / (dn.denom + t.wdf) AS s
  FROM {t} t
  JOIN dn ON dn.doc_id = t.doc_id
  CROSS JOIN (SELECT (g.n_docs - {d}.df + 0.5) / ({d}.df + 0.5) AS tw
              FROM {d}, g) x""")

    def term(self, node: Term) -> str:
        cond = f"term = '{_q(node.term)}'"
        return self._unit(
            f"SELECT doc_id, sum(wdf)::DOUBLE AS wdf FROM tr "
            f"WHERE {cond} GROUP BY doc_id",
            "SELECT count(*)::DOUBLE AS df FROM {t}")

    def wildcard(self, node: Wildcard) -> str:
        """OP_SYNONYM over the prefix expansion: per-doc wdf summed over
        matching terms, df = min(N, Σ df) — Σ df over the expansion is
        exactly the (doc, term) row count matching the prefix.  The
        engine's wildcard_limit (100k most-frequent) is deliberately
        not modeled: test corpora sit far below it."""
        cond = f"term LIKE {_like(node.pattern)}"
        return self._unit(
            f"SELECT doc_id, sum(wdf)::DOUBLE AS wdf FROM tr "
            f"WHERE {cond} GROUP BY doc_id",
            f"SELECT least((SELECT n_docs FROM g), "
            f"(SELECT count(*)::DOUBLE FROM tr WHERE {cond})) AS df "
            f"FROM (SELECT 1)")

    # -- combinators -----------------------------------------------------

    def _union_sum(self, names: list[str], having: str = "") -> str:
        union = " UNION ALL ".join(
            f"SELECT doc_id, s FROM {n}" for n in names)
        return self._add(self._name("w"), f"""
  SELECT doc_id, sum(s) AS s FROM ({union}) u
  GROUP BY doc_id {having}""")

    def emit(self, node: Node) -> str:
        if isinstance(node, Term):
            return self.term(node)
        if isinstance(node, Wildcard):
            return self.wildcard(node)
        if isinstance(node, MatchNothing) or isinstance(node, ValueRange):
            return self._add(self._name("w"),
                             "SELECT CAST(NULL AS BIGINT) AS doc_id, "
                             "CAST(NULL AS DOUBLE) AS s WHERE FALSE")
        if isinstance(node, MatchAll):
            # derived from the documents view (every doc, engine ids
            # are source id + 1), NOT from the term-derived dl CTE: a
            # zero-term doc must still match PURE_NOT-shaped queries
            # (ADVICE r04 — the engine's MatchAll reads docstats)
            return self._add(self._name("w"),
                             "SELECT doc_id + 1 AS doc_id, 0.0 AS s "
                             "FROM documents")
        if isinstance(node, Scaled):
            c = self.emit(node.child)
            return self._add(
                self._name("w"),
                f"SELECT doc_id, s * {node.factor!r} AS s FROM {c}")
        if isinstance(node, Positional):
            return self.positional(node)
        if isinstance(node, Bool):
            if node.op == "ELITE" and len(node.children) > 10:
                # the >10-child selection ranks children by a
                # data-dependent leaf termweight — not compiled here;
                # the selection path is DuckDB-oracled in simple mode
                # (ft_elite_top10) and pytest-oracled in Xapian mode
                raise NotImplementedError("ELITE with >10 children")
            kids = [self.emit(c) for c in node.children]
            if node.op in ("OR", "ELITE"):
                # ELITE keeps the 10 highest-termweight children then
                # ORs them (plan.py) — with <= 10 children the
                # selection is the identity and ELITE == OR
                return self._union_sum(kids)
            if node.op == "AND":
                return self._union_sum(
                    kids, f"HAVING count(*) = {len(kids)}")
            if len(kids) != 2:
                raise NotImplementedError(
                    f"{node.op} arity {len(kids)}")
            l, r = kids
            if node.op == "AND_NOT":
                body = (f"SELECT l.doc_id, l.s FROM {l} l WHERE "
                        f"l.doc_id NOT IN (SELECT doc_id FROM {r})")
            elif node.op == "AND_MAYBE":
                body = (f"SELECT l.doc_id, l.s + coalesce(r.s, 0) AS s "
                        f"FROM {l} l LEFT JOIN {r} r "
                        f"ON r.doc_id = l.doc_id")
            elif node.op == "FILTER":
                body = (f"SELECT l.doc_id, l.s FROM {l} l WHERE "
                        f"l.doc_id IN (SELECT doc_id FROM {r})")
            elif node.op == "XOR":
                body = (f"SELECT coalesce(l.doc_id, r.doc_id) AS doc_id, "
                        f"coalesce(l.s, r.s) AS s "
                        f"FROM {l} l FULL OUTER JOIN {r} r "
                        f"ON r.doc_id = l.doc_id "
                        f"WHERE l.doc_id IS NULL OR r.doc_id IS NULL")
            else:
                raise NotImplementedError(f"bool op {node.op}")
            return self._add(self._name("w"), body)
        raise NotImplementedError(f"node {node!r}")

    def positional(self, node: Positional) -> str:
        """PHRASE / NEAR over Term leaves.

        PHRASE with window == arity (the only shape the parser emits
        for quoted/implicit phrases): the greedy-minimal chain span
        < window forces every gap to be exactly 1, i.e. a consecutive
        run — rendered as a chained position self-join.  2-term PHRASE
        with any window: exists p2 > p1 with p2 - p1 < window (the
        minimal later position minimizes the span, so the existence
        check is exact).  2-term NEAR: distinct positions, any order,
        |Δ| < window (distinct terms never share a position).  Weight =
        AND of the member term units restricted to hit docs
        (search._tree_block_fn / oracle._phrase_hit semantics)."""
        terms = []
        for c in node.children:
            if not isinstance(c, Term):
                raise NotImplementedError("positional over non-terms")
            terms.append(c.term)

        def posrel(t: str) -> str:
            return (f"(SELECT doc_id, unnest(positions) AS p FROM tr "
                    f"WHERE term = '{_q(t)}')")

        if node.op == "PHRASE" and node.window == len(terms) \
                and len(terms) >= 2:
            joins = []
            for j, t in enumerate(terms[1:], start=1):
                joins.append(
                    f"JOIN {posrel(t)} p{j} ON p{j}.doc_id = p0.doc_id "
                    f"AND p{j}.p = p0.p + {j}")
            hit_body = (f"SELECT DISTINCT p0.doc_id "
                        f"FROM {posrel(terms[0])} p0 " + " ".join(joins))
        elif len(terms) == 2 and node.op == "PHRASE":
            hit_body = (
                f"SELECT DISTINCT p0.doc_id FROM {posrel(terms[0])} p0 "
                f"JOIN {posrel(terms[1])} p1 ON p1.doc_id = p0.doc_id "
                f"AND p1.p > p0.p AND p1.p - p0.p < {node.window}")
        elif len(terms) == 2 and node.op == "NEAR":
            hit_body = (
                f"SELECT DISTINCT p0.doc_id FROM {posrel(terms[0])} p0 "
                f"JOIN {posrel(terms[1])} p1 ON p1.doc_id = p0.doc_id "
                f"AND p1.p <> p0.p "
                f"AND abs(p1.p - p0.p) < {node.window}")
        else:
            raise NotImplementedError(
                f"{node.op} window={node.window} arity={len(terms)}")
        hit = self._add(self._name("h"), hit_body)
        units = [self.term(Term(t)) for t in terms]
        both = self._union_sum(units,
                               f"HAVING count(*) = {len(units)}")
        return self._add(self._name("w"), f"""
  SELECT a.doc_id, a.s FROM {both} a
  WHERE a.doc_id IN (SELECT doc_id FROM {hit})""")


_BASE_CTES = """tr AS (
  SELECT doc_id, term, wdf, positions
  FROM read_parquet('{root}/nd=*/dg=*/*.parquet', hive_partitioning = true)
  WHERE nd = (SELECT count(*) FROM documents)
    AND dg = (SELECT {digest} FROM documents)
),
dl AS (SELECT doc_id, sum(wdf)::DOUBLE AS doclen FROM tr GROUP BY doc_id),
g AS (SELECT count(*)::DOUBLE AS n_docs, avg(doclen) AS avgdl FROM dl),
dn AS (
  SELECT dl.doc_id,
         1.0 * (greatest(dl.doclen / g.avgdl, 0.5) * 0.5 + 0.5) AS denom
  FROM dl, g
)"""


def xq_oracle_sql(query: str, k: int = 10, cjk: bool = False) -> str:
    """DuckDB SQL equivalent of ``Searcher.query_df(query, k)`` over the
    term-rows parquet, output shape ``(doc_id, score)`` with engine ids
    mapped back to the source table (engine ids are 1-based) and scores
    rounded like the Spark entry (CAST(round(s,4) AS DOUBLE)).

    The tr CTE selects the export partition by BOTH corpus row count
    and content digest; if no export matches the current ``documents``
    view the query raises a descriptive error instead of silently
    returning zero rows (ADVICE r04) — the guard branch below is a
    UNION arm whose WHERE clause must always be evaluated, so it fires
    even when the result set would otherwise be empty."""
    from .queryparse import parse_user_query
    gen = _SqlGen()
    top = gen.emit(parse_user_query(query, cjk_ngram=cjk))
    ctes = ",\n".join(
        [_BASE_CTES.format(root=termrows_root(cjk), digest=_DIGEST_EXPR)]
        + gen.ctes)
    hint = "cjk=True" if cjk else "sf_dir"
    guard = ("SELECT CAST(NULL AS BIGINT) AS doc_id, "
             "CAST(error('xq term-rows export missing for this corpus: "
             f"run mdq_spark.xq_oracle.ensure_termrows({hint}) first') "
             "AS DOUBLE) AS score, CAST(NULL AS DOUBLE) AS s "
             "WHERE (SELECT count(*) FROM tr) = 0")
    return (f"WITH {ctes}\n"
            f"SELECT doc_id, score FROM (\n"
            f"  (SELECT doc_id - 1 AS doc_id, "
            f"CAST(round(s, 4) AS DOUBLE) AS score, s\n"
            f"   FROM {top} ORDER BY s DESC, doc_id ASC LIMIT {k})\n"
            f"  UNION ALL ({guard})\n"
            f") ORDER BY s DESC, doc_id ASC\n")


def matching_terms_oracle_sql(query: str, doc_id: int) -> str:
    """DuckDB SQL equivalent of ``Searcher.get_matching_terms``: the
    doc's term rows intersected with the query's ordered term map
    (omenquire.cc:675-708), output ``(term, qindex)``."""
    from .eset import query_exclude_terms
    order: dict[str, int] = {}
    for t in query_exclude_terms(query):
        order.setdefault(t, len(order) + 1)
    vals = ", ".join(f"('{_q(t)}', {i})" for t, i in order.items())
    base = _BASE_CTES.format(root=termrows_root(), digest=_DIGEST_EXPR)
    guard = ("SELECT CAST(NULL AS VARCHAR) AS term, "
             "CAST(error('xq term-rows export missing for this corpus: "
             "run mdq_spark.xq_oracle.ensure_termrows(sf_dir) first') "
             "AS BIGINT) AS qindex "
             "WHERE (SELECT count(*) FROM tr) = 0")
    return f"""WITH {base},
q(term, qindex) AS (VALUES {vals})
SELECT term, qindex FROM (
  (SELECT q.term, q.qindex::BIGINT AS qindex
   FROM tr JOIN q USING (term) WHERE tr.doc_id = {int(doc_id)})
  UNION ALL ({guard})
) ORDER BY qindex
"""


def eset_oracle_sql(rset_ids: list[int], maxitems: int = 20,
                    scheme: str = "trad", expand_k: float = 1.0,
                    min_wt: float = 0.0,
                    exclude_terms: Optional[list[str]] = None) -> str:
    """DuckDB SQL equivalent of ``Searcher.get_eset`` over the
    term-rows parquet (mdq_spark/eset.py docstring has the formula
    citations): candidates from the RSet docs' term rows, df/cf
    re-derived per term from ALL rows, Trad/Bo1 weight recomputed,
    output ``(term, wt)`` rounded like the Spark entry."""
    ids = ", ".join(str(int(d)) for d in sorted(set(rset_ids)))
    k = float(expand_k)
    where = f"WHERE rawwt > {float(min_wt)}"
    if exclude_terms:
        lst = ", ".join(f"'{_q(t)}'" for t in sorted(set(exclude_terms)))
        where += f" AND term NOT IN ({lst})"
    if scheme == "trad":
        wt_expr = f"""c.mult * ln(
      ((c.r + 0.5) * (g.n_docs - st.df - (c.rsize - c.r) + 0.5))
      / ((st.df - c.r + 0.5) * ((c.rsize - c.r) + 0.5)))"""
    elif scheme == "bo1":
        wt_expr = """c.rcf * log2((1 + st.cf / g.n_docs)
                     / (st.cf / g.n_docs))
      + log2(1 + st.cf / g.n_docs)"""
    else:
        raise ValueError(f"unknown eset scheme {scheme!r}")
    base = _BASE_CTES.format(root=termrows_root(), digest=_DIGEST_EXPR)
    guard = ("SELECT CAST(NULL AS VARCHAR) AS term, "
             "CAST(error('xq term-rows export missing for this corpus: "
             "run mdq_spark.xq_oracle.ensure_termrows(sf_dir) first') "
             "AS DOUBLE) AS wt, CAST(NULL AS DOUBLE) AS rawwt "
             "WHERE (SELECT count(*) FROM tr) = 0")
    return f"""WITH {base},
rel AS (
  SELECT tr.term, greatest(tr.wdf, 1)::DOUBLE AS wdf0, dl.doclen
  FROM tr JOIN dl USING (doc_id) WHERE tr.doc_id IN ({ids})
),
c AS (
  SELECT term, {len(set(int(d) for d in rset_ids))}::DOUBLE AS rsize,
         count(*)::DOUBLE AS r, sum(wdf0) AS rcf,
         sum(({k} + 1.0) * wdf0 / ({k} * doclen / g.avgdl + wdf0)) AS mult
  FROM rel, g GROUP BY term
),
st AS (
  SELECT term, count(*)::DOUBLE AS df, sum(wdf)::DOUBLE AS cf
  FROM tr GROUP BY term
),
w AS (
  SELECT c.term, {wt_expr} AS rawwt
  FROM c JOIN st USING (term), g
)
SELECT term, wt FROM (
  (SELECT term, CAST(round(rawwt, 4) AS DOUBLE) AS wt, rawwt
   FROM w {where}
   ORDER BY rawwt DESC, term ASC LIMIT {int(maxitems)})
  UNION ALL ({guard})
) ORDER BY rawwt DESC, term ASC
"""

"""FLAG_CJK_NGRAM mode: tokenizer, STEM_SOME emission, query parse, and
engine-vs-oracle rank parity.

The flagged branch is unreachable in the reference CLI (it never sets
FLAG_CJK_NGRAM nor XAPIAN_CJK_NGRAM — xapian_utils.rs:584-591), so all
goldens here are hand-traced from the bundled xapian-core sources:
``cjk-tokenizer.cc`` (CJKTokenIterator: interleaved unigrams/bigrams),
``termgenerator_internal.cc:177-196`` (index side: positional unigrams,
wdf-only bigrams, non-CJK terms end at a CJK boundary, raw-case grams)
and ``queryparser_internal.cc:532-548 / 748-753 / 1158-1170 / 3407``
(query side: one CJKTERM per run -> AND of grams at one position;
per-char positional terms inside phrases; wildcard/partial bypassed;
run lowercased with the rest of the term).
"""

import pytest

from mdq_spark.plan import Bool, Positional, Term, Wildcard
from mdq_spark.queryparse import parse_chunk, parse_user_query
from mdq_spark.tokenize import (
    Token, cjk_grams, document_term_rows, index_text, parse_terms,
)


# --------------------------------------------------------------------------
# tokenizer
# --------------------------------------------------------------------------

def toks(text, **kw):
    return [(t.term, t.positional) for t in parse_terms(text, **kw)]


def test_gram_iterator_order():
    # CJKTokenIterator: c1, c1c2, c2, c2c3, ..., cN
    assert [(t.term, t.positional) for t in cjk_grams("中文数")] == [
        ("中", True), ("中文", False),
        ("文", True), ("文数", False),
        ("数", True),
    ]
    assert [(t.term, t.positional) for t in cjk_grams("中")] == [("中", True)]


def test_cjk_run_in_mixed_text():
    assert toks("abc中文 def", cjk_ngram=True) == [
        ("abc", True), ("中", True), ("中文", False), ("文", True),
        ("def", True),
    ]
    # a non-CJK term ends at a CJK codepoint (`goto endofterm`)
    assert toks("abc中文", cjk_ngram=False) == [("abc中文", True)]


def test_pending_term_survives_cjk_span():
    # "a'中b": the accepted infix re-enters the word loop top where the
    # CJK branch fires; the C++ `term` string ("a'") persists un-emitted
    # across the span and keeps accumulating -> grams first, then "a'b"
    assert toks("a'中b", cjk_ngram=True) == [("中", True), ("a'b", True)]
    # ...and is silently dropped when input ends inside the span's
    # trailing skip loop (the C++ `return`)
    assert toks("a'中", cjk_ngram=True) == [("中", True)]


def test_suffix_stripped_before_cjk():
    # '中' is a wordchar, so the trailing-+# rule strips the suffix
    # exactly like "c++x" would
    assert toks("c++中", cjk_ngram=True) == [("c", True), ("中", True)]
    assert toks("c++ 中", cjk_ngram=True) == [("c++", True), ("中", True)]


def test_cjk_punctuation_splits_runs():
    # U+3002 IDEOGRAPHIC FULL STOP: codepoint_is_cjk but not a wordchar
    assert toks("中。文", cjk_ngram=True) == [("中", True), ("文", True)]


def test_fullwidth_case_asymmetry():
    # index side: CJKTokenIterator appends raw codepoints (no tolower);
    # U+FF31 FULLWIDTH Q is in the FF00-FFEF CJK block
    assert toks("Ｑ中", cjk_ngram=True) == [
        ("Ｑ", True), ("Ｑ中", False), ("中", True)]
    # query side: the run is lowercased with the rest of the term
    # (queryparser_internal.cc:3386)
    assert toks("Ｑ中", cjk_ngram=True, cjk_runs=True) == [("ｑ中", True)]


def test_query_side_runs():
    assert toks("中文 data", cjk_ngram=True, cjk_runs=True) == [
        ("中文", True), ("data", True)]


def test_default_mode_unaffected():
    for text in ["abc中文 def", "a'中b", "c++中", "中。文"]:
        assert toks(text) == toks(text, cjk_ngram=False)
    assert toks("中文数") == [("中文数", True)]


# --------------------------------------------------------------------------
# STEM_SOME emission
# --------------------------------------------------------------------------

def test_index_text_emission():
    rows, pos = index_text("中文 data", cjk_ngram=True)
    assert rows == [
        ("中", 1, 1), ("Z中", None, 1),        # unigram + Z twin
        ("中文", None, 1), ("Z中文", None, 1),  # bigram: wdf-only
        ("文", 2, 1), ("Z文", None, 1),
        ("data", 3, 1), ("Zdata", None, 1),
    ]
    assert pos == 3  # bigrams never advance cur_pos


def test_document_term_rows_cjk():
    agg, doclen = document_term_rows(
        {"body": "中文 中"}, cjk_ngram=True)
    body = {k: v for k, v in agg.items() if not k.startswith("D")}
    # doclen == Σ wdf over every emitted term (A3), CJK rows included
    assert doclen == sum(v[0] for v in agg.values())
    # 中 occurs twice, 2 positions apart (unigram positions p and p+2 —
    # the bigram in between takes none); blobs hold raw gap varints and
    # the shared position counter starts after the date-field terms
    p = bytes(body["中"][1])[0]
    assert body["中"][0] == 2 and bytes(body["中"][1]) == bytes([p, 1])
    assert body["文"][0] == 1 and bytes(body["文"][1]) == bytes([p + 1])
    # bigram and Z rows carry no position blob
    assert body["中文"][0] == 1 and body["中文"][1] is None
    assert body["Z中"][0] == 2 and body["Z中"][1] is None
    assert body["Z中文"][1] is None and body["Z文"][1] is None
    # body contributes 2*(unigrams + bigrams) = 2*(3 + 1) wdf
    assert sum(v[0] for k, v in body.items()) == 8


# --------------------------------------------------------------------------
# query parse (Xapian QueryParser layer)
# --------------------------------------------------------------------------

def test_chunk_free_cjk_is_and_of_grams():
    # Term::as_cjk_query: AND over unigrams+bigrams, ONE shared position
    node = parse_chunk("中文数 ;", cjk_ngram=True)
    assert node == Bool("AND", (
        Term("中", 1), Term("中文", 1), Term("文", 1),
        Term("文数", 1), Term("数", 1)))
    # single char -> plain term
    assert parse_chunk("中 ;", cjk_ngram=True) == Term("中", 1)


def test_chunk_cjk_with_prefix():
    node = parse_chunk("中文", prefix="S", cjk_ngram=True)
    assert node == Bool("AND", (
        Term("S中", 1), Term("S中文", 1), Term("S文", 1)))


def test_chunk_phrase_expands_per_char():
    # as_positional_cjk_term: each character is one positional member
    node = parse_chunk('"中文 data" ;', cjk_ngram=True)
    assert node == Positional("PHRASE", (
        Term("中", 1), Term("文", 2), Term("data", 3)), 3)


def test_chunk_wildcard_and_partial_bypassed():
    # CJKTERM is Parse()d before the '*'/FLAG_PARTIAL handling
    assert parse_chunk("中文* ;", cjk_ngram=True) == \
        parse_chunk("中文 ;", cjk_ngram=True)
    # trailing CJK word does NOT get the (WILDCARD OR Zterm) expansion
    assert parse_chunk("中文", cjk_ngram=True, partial=True) == \
        parse_chunk("中文 ;", cjk_ngram=True)
    # sanity: a latin word in the same spot does
    latin = parse_chunk("data", cjk_ngram=True, partial=True)
    assert isinstance(latin, Bool) and \
        isinstance(latin.children[0], Wildcard)


def test_chunk_flag_off_unchanged():
    # without the flag a CJK run is one plain term — stemmed, since
    # category Lo passes should_stem and Snowball is an identity on CJK
    node = parse_chunk("中文 ;", cjk_ngram=False)
    assert node == Term("Z中文", 1)


def test_expression_layer_drops_cjk_regardless_of_flag():
    # the reference's nom expression layer only accepts [A-Za-z0-9_]
    # word chars: CJK in a FINAL chunk is dropped before the QueryParser
    # sees it, flag or no flag (xapian_utils.rs:434-479)
    for flag in (False, True):
        assert parse_user_query("中文", cjk_ngram=flag).is_nothing()
    # intermediate chunks bypass that layer and hit the chunk parser
    node = parse_user_query("中文 AND data", cjk_ngram=True)
    assert node == Bool("AND", (
        Bool("AND", (Term("中", 1), Term("中文", 1), Term("文", 1))),
        Bool("OR", (Wildcard("data"), Term("Zdata", 1))),
    ))


# --------------------------------------------------------------------------
# engine vs pure-Python oracle (rank parity on a CJK corpus)
# --------------------------------------------------------------------------

CJK_DOCS = [
    dict(doc_id=1, fullpath="jp/a.md", title="中文 intro",
         subtitle="", authors=["ada"], date=1600000000, tags=["文"],
         weight=0, writes=0, views=0,
         body="中文数据 engine 中文 compiles quickly"),
    dict(doc_id=2, fullpath="jp/b.md", title="sorting",
         subtitle="", authors=["bob"], date=1600003600, tags=[],
         weight=0, writes=0, views=0,
         body="数据 数据 large 中 sorts and shuffles"),
    dict(doc_id=3, fullpath="jp/c.md", title="query planner",
         subtitle="", authors=["bob"], date=1600007200, tags=["文"],
         weight=0, writes=0, views=0,
         body="planner 中文 costs 日本語 estimates"),
    dict(doc_id=4, fullpath="jp/d.md", title="animals",
         subtitle="", authors=["cyd"], date=1600010800, tags=[],
         weight=0, writes=0, views=0,
         body="the quick brown fox 狐 jumps 中 文 separately"),
    dict(doc_id=5, fullpath="jp/e.md", title="日本語",
         subtitle="", authors=["cyd"], date=1600014400, tags=[],
         weight=0, writes=0, views=0,
         body="mixed abc中文 run 語 and latin tail"),
]

CJK_QUERIES = [
    "中文 AND engine",      # free CJK (intermediate chunk) + latin
    "中 AND quickly",       # single-char CJK
    "数据 OR planner",      # CJK left of outer OR
    "中文 AND NOT 数据",    # gram-AND under AND_NOT
    "日本語 AND costs",     # 3-char run -> 5-gram AND
]


@pytest.fixture(scope="module")
def cjk_oracle():
    from mdq_spark.oracle import OracleIndex
    return OracleIndex.build(CJK_DOCS, cjk_ngram=True)


@pytest.fixture(scope="module")
def cjk_index(spark, tmp_path_factory):
    from mdq_spark.build import DOCS_SCHEMA, build_index
    out = str(tmp_path_factory.mktemp("cjkidx") / "idx")
    rows = [dict(d, sha256=None) for d in CJK_DOCS]
    df = spark.createDataFrame(rows, schema=DOCS_SCHEMA)
    manifest = build_index(spark, df, out, block_span=4, n_buckets=8,
                           cjk_ngram=True)
    return out, manifest


def test_manifest_records_flag(cjk_index):
    _, manifest = cjk_index
    assert manifest["cjk_ngram"] is True


def test_spark_vs_oracle_cjk_parity(spark, cjk_index, cjk_oracle):
    from mdq_spark.search import Searcher
    from tests.conftest import assert_results_match
    s = Searcher(spark, cjk_index[0])
    assert s.cjk_ngram is True
    for q in CJK_QUERIES:
        expected = cjk_oracle.search(q, k=10)
        actual = s.search(q, k=10)
        assert expected, f"oracle empty for {q!r} (bad fixture)"
        assert_results_match(expected, actual)


def test_upsert_preserves_cjk_flag(spark, cjk_index, cjk_oracle):
    """An upsert into a cjk_ngram index tokenizes the new docs in the
    same mode (the flag rides the manifest)."""
    import shutil

    from mdq_spark.build import DOCS_SCHEMA
    from mdq_spark.search import Searcher
    from mdq_spark.upsert import upsert
    from mdq_spark.oracle import OracleIndex
    from tests.conftest import assert_results_match

    src, _ = cjk_index
    idx2 = src + "_up"
    shutil.copytree(src, idx2)
    new_doc = dict(doc_id=99, fullpath="jp/f.md", title="appended",
                   subtitle="", authors=["eve"], date=1600020000, tags=[],
                   weight=0, writes=0, views=0,
                   body="中文 appended 数据 body", sha256=None)
    upsert(spark, idx2, spark.createDataFrame([new_doc],
                                              schema=DOCS_SCHEMA))
    oracle2 = OracleIndex.build(
        CJK_DOCS + [dict(new_doc, doc_id=6)], cjk_ngram=True)
    s2 = Searcher(spark, idx2)
    q = "中文 AND NOT quickly"
    exp = [(d if d != 6 else 6, w) for d, w in oracle2.search(q, k=10)]
    act = s2.search(q, k=10)
    # doc ids differ between oracle (dense 6) and upsert (next_doc_id);
    # compare scores+count with ids mapped by fullpath
    docs_df = spark.read.parquet(f"{idx2}/docs")
    id_by_path = {r["fullpath"]: r["doc_id"] for r in
                  docs_df.select("fullpath", "doc_id").collect()}
    path_by_oracle_id = {d["doc_id"]: d["fullpath"]
                         for d in CJK_DOCS + [dict(new_doc, doc_id=6)]}
    exp_mapped = sorted(
        ((id_by_path[path_by_oracle_id[d]], w) for d, w in exp),
        key=lambda kv: (-kv[1], kv[0]))
    assert_results_match(exp_mapped, act)

    # compaction preserves the tokenizer mode: the compacted index keeps
    # cjk_ngram in its manifest, keeps the doc ids, and answers
    # identically
    from mdq_spark.upsert import compact
    idx3 = src + "_compacted"
    m3 = compact(spark, idx2, idx3)
    assert m3["cjk_ngram"] is True
    s3 = Searcher(spark, idx3)
    assert s3.cjk_ngram is True
    a2 = s2.search(q, k=10)
    assert a2 and s3.search(q, k=10) == a2

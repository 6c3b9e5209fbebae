"""Seeded inputs for the benchmark.

Everything the engine sees comes from here and depends only on the
seed and the size profile:

* a ``(repo, path, commit, lang, content)`` code table, written as
  parquet: a Zipf vocabulary of words and identifiers, the tokens the
  tokenizer treats specially (``c++``, ``c#``, ``AT&T``, ``don't``,
  ``3,14``) and tokens longer than the 64-byte term limit, lognormal
  document lengths, a skewed ``lang`` and a low-cardinality ``repo``;
* a pool of interactive queries, seven shapes each in a ``selective``
  (rare terms) and a ``broad`` (hot terms) variant, and per class a
  Zipf-popular stream over its variants, so popular queries repeat;
* an upsert batch: existing paths with new content plus new paths.

Inputs are cached on disk per (seed, profile, code digest); answers
computed by the reference oracle are cached beside them (see
``checks.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Profile:
    """Input sizes.  ``full`` is what the benchmark measures; ``tiny``
    is the smoke test's."""
    n_docs: int
    mean_tokens: int
    n_words: int
    pool_variants: int      # queries per (shape, selectivity) pair
    upsert_replace: int     # existing paths the upsert batch rewrites
    upsert_new: int         # new paths in the upsert batch
    tokenize_sample: int    # docs in the driver-side tokenizer sample


PROFILES = {
    "full": Profile(n_docs=1000, mean_tokens=120, n_words=4000,
                    pool_variants=3, upsert_replace=60, upsert_new=40,
                    tokenize_sample=400),
    "tiny": Profile(n_docs=160, mean_tokens=40, n_words=600,
                    pool_variants=1, upsert_replace=8, upsert_new=4,
                    tokenize_sample=40),
}

LANGS = ["python", "rust", "go", "java", "c", "cpp", "markdown"]
LANG_P = np.array([0.40, 0.20, 0.14, 0.10, 0.08, 0.05, 0.03])
EXT = {"python": "py", "rust": "rs", "go": "go", "java": "java",
       "c": "c", "cpp": "cc", "markdown": "md"}
# two names share a prefix: ordering by the fullpath string and by
# (repo, path) differ ('-' sorts before '/')
REPOS = ["org/alpha", "org/alpha-x", "org/beta", "core/engine",
         "core/util", "web/frontend", "web/api", "tools/cli"]
DIRS = ["src", "lib", "pkg", "internal", "tests", "docs", "cmd", "util"]
SPECIAL = ["c++", "c#", "AT&T", "don't", "3,14", "it's", "f#", "R&D"]
SHAPES = ["free", "field", "phrase", "and_not", "and_maybe", "prefix",
          "filtered"]

_ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p",
           "r", "s", "t", "v", "w", "z", "st", "tr", "ch", "sh", "pl",
           "gr", "br", "cl", "sp", "qu"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou", "io"]
_CODAS = ["", "", "n", "r", "s", "t", "l", "x", "ck", "nd", "rt", "m"]
_SEPS = np.array([" ", " ", " ", " ", "\n", "(", ") ", ", ", " = ", ".",
                  ";\n"])


def zipf_p(n: int, s: float = 1.07, q: float = 2.7) -> np.ndarray:
    p = 1.0 / (np.arange(n) + q) ** s
    return p / p.sum()


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable words.  Nine in twenty have two
    syllables, by rank rather than by draw, so the length profile of
    the vocabulary (and with it bytes per token) barely varies with the
    seed."""
    out: list[str] = []
    seen: set = set()
    while len(out) < n:
        w = "".join(_ONSETS[rng.integers(len(_ONSETS))]
                    + _VOWELS[rng.integers(len(_VOWELS))]
                    + _CODAS[rng.integers(len(_CODAS))]
                    for _ in range(1 + int(len(out) % 20 < 9)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def vocabulary(rng: np.random.Generator, n_words: int) -> list[str]:
    """Zipf-ranked vocabulary: words, then snake_case and camelCase
    identifiers spread over the ranks, the special tokens at mid ranks
    and a dozen tokens of 64+ bytes in the tail."""
    base = _words(rng, n_words)
    vocab = list(base)
    for i in range(n_words // 4):
        a, b = base[rng.integers(n_words)], base[rng.integers(n_words)]
        ident = f"{a}_{b}" if i % 2 else a + b[:1].upper() + b[1:]
        vocab.insert(int(rng.integers(20, len(vocab))), ident)
    for j, tok in enumerate(SPECIAL):
        vocab.insert(30 + 25 * j, tok)
    for j in range(12):
        long_tok = base[rng.integers(200)]
        while len(long_tok.encode()) < 64 + j:
            long_tok += "_" + base[rng.integers(200)]
        vocab.insert(len(vocab) // 2 + 97 * j, long_tok)
    return list(dict.fromkeys(vocab))


def _texts(rng: np.random.Generator, vocab: list[str], n_docs: int,
           mean_tokens: int) -> tuple[list[str], list[np.ndarray]]:
    """Lognormal-length documents of Zipf-drawn tokens laid out as
    short lines with a little code punctuation.  Also returns each
    document's token ids (for choosing queries that match)."""
    sigma = 0.9
    mu = np.log(mean_tokens) - sigma * sigma / 2
    lens = np.clip(rng.lognormal(mu, sigma, n_docs), 3, 4000)
    # rescale to exactly n_docs * mean_tokens tokens, so corpus size (and
    # with it every per-run cost) does not vary with the seed
    lens = np.maximum(3, np.round(lens * (n_docs * mean_tokens
                                          / lens.sum()))).astype(int)
    total = int(lens.sum())
    tok = rng.choice(len(vocab), size=total, p=zipf_p(len(vocab)))
    seps = rng.choice(_SEPS, size=total)
    texts, toks = [], []
    off = 0
    for n in lens:
        t = tok[off:off + n]
        s = seps[off:off + n]
        off += n
        texts.append("".join(vocab[i] + c for i, c in zip(t, s)))
        toks.append(t)
    return texts, toks


def _commit(rng: np.random.Generator) -> str:
    return hashlib.sha1(rng.bytes(16)).hexdigest()


def code_table(rng: np.random.Generator, vocab: list[str], n_docs: int,
               mean_tokens: int, first_serial: int = 0):
    texts, toks = _texts(rng, vocab, n_docs, mean_tokens)
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    repos = rng.choice(len(REPOS), size=n_docs,
                       p=zipf_p(len(REPOS), 1.0, 1.0))
    dirs = rng.integers(len(DIRS), size=n_docs)
    stems = rng.integers(40, min(3000, len(vocab)), size=n_docs)
    rows = {"repo": [], "path": [], "commit": [], "lang": [],
            "content": texts}
    for i in range(n_docs):
        lang = LANGS[langs[i]]
        name = "".join(ch for ch in vocab[stems[i]] if ch.isalnum()
                       or ch == "_")[:24] or "f"
        rows["repo"].append(REPOS[repos[i]])
        rows["path"].append(f"{DIRS[dirs[i]]}/{name}_{first_serial + i}"
                            f".{EXT[lang]}")
        rows["lang"].append(lang)
        rows["commit"].append(_commit(rng))
    return rows, toks


def _write_parquet(rows: dict, path: str) -> None:
    tbl = pa.table({k: pa.array(v, pa.string()) for k, v in rows.items()})
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)


def _doc_freq(vocab: list[str], toks: list) -> np.ndarray:
    df = np.zeros(len(vocab), dtype=np.int64)
    for t in toks:
        df[np.unique(t)] += 1
    return df


def _plain(vocab: list[str]) -> np.ndarray:
    """Lowercase alphabetic words: query terms that parse as one word."""
    return np.array([w.isalpha() and w.islower() for w in vocab])


def _queries(rng: np.random.Generator, vocab: list[str], toks: list,
             df: np.ndarray, langs: list[str], variants: int) -> list[dict]:
    """``variants`` queries per (shape, selectivity).  Terms come from
    the corpus itself so every shape has matches: ``broad`` draws from
    the hottest ranks, ``selective`` from ranks that occur in only a
    few documents."""
    plain = _plain(vocab)
    hot = np.flatnonzero(plain & (np.arange(len(vocab)) < 60) & (df > 0))
    rare = np.flatnonzero(plain & (df >= 2) & (df <= max(3, len(toks) // 200)))
    if not len(rare):
        rare = np.flatnonzero(plain & (df > 0))

    def word(sel: str) -> str:
        pool = hot if sel == "broad" else rare
        return vocab[int(pool[rng.integers(len(pool))])]

    def adjacent_pair(sel: str) -> tuple[str, str]:
        # a pair of plain words adjacent in some document; selective
        # pairs contain a rare word
        rare_set = set(rare.tolist())
        for _ in range(2000):
            t = toks[int(rng.integers(len(toks)))]
            if len(t) < 2:
                continue
            i = int(rng.integers(len(t) - 1))
            a, b = int(t[i]), int(t[i + 1])
            if not (plain[a] and plain[b]):
                continue
            if sel == "selective" and a not in rare_set \
                    and b not in rare_set:
                continue
            return vocab[a], vocab[b]
        return word(sel), word(sel)

    out = []
    for shape in SHAPES:
        for sel in ("selective", "broad"):
            for v in range(variants):
                q = {"shape": shape, "sel": sel, "lang": None}
                if shape == "free" and sel == "broad" and v == 0:
                    # through the tokenizer's special cases
                    tok = SPECIAL[int(rng.integers(4))]
                    q["q"] = f"{tok} {word(sel)}"
                elif shape == "free":
                    q["q"] = f"{word(sel)} {word(sel)}"
                elif shape == "field":
                    lang = langs[int(rng.integers(len(langs)))]
                    q["q"] = f"tag:{lang} {word(sel)}"
                elif shape == "phrase":
                    a, b = adjacent_pair(sel)
                    q["q"] = f'"{a} {b}" '
                elif shape == "and_not":
                    q["q"] = f"{word(sel)} AND NOT {word('broad')}"
                elif shape == "and_maybe":
                    q["q"] = f"{word(sel)} AND MAYBE {word(sel)}"
                elif shape == "prefix":
                    w = word(sel)
                    q["q"] = w[:3] if sel == "broad" else w[:max(4, len(w) - 1)]
                else:
                    q["q"] = f"{word(sel)} {word(sel)}"
                    q["lang"] = LANGS[int(rng.integers(3))]
                out.append(q)
    for i, q in enumerate(out):
        q["id"] = f"s{i:03d}"
    return out


def _streams(rng: np.random.Generator, pool: list[dict],
             n: int) -> dict:
    """For every ``shape/selectivity`` class, ``n`` indices into
    ``pool`` drawn from a Zipf popularity over the class's variants, so
    the popular variants repeat.  The workloads decide which class to
    ask next, so every run asks the same mix of classes."""
    classes: dict = {}
    for i, q in enumerate(pool):
        classes.setdefault(f"{q['shape']}/{q['sel']}", []).append(i)
    return {c: [members[int(j)] for j in rng.choice(
                len(members), size=n, p=zipf_p(len(members), 1.1, 1.0))]
            for c, members in sorted(classes.items())}


def _code_digest() -> str:
    """Digest of the code the cached inputs and oracle answers depend
    on (this package and the engine), so a change to either starts a
    fresh cache."""
    here = os.path.dirname(os.path.abspath(__file__))
    engine = os.path.join(os.path.dirname(here), "mdq_spark")
    h = hashlib.sha1()
    for d in (here, engine):
        for name in sorted(os.listdir(d)):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


class Inputs:
    """Materialize (or load) the inputs for one seed and profile under
    ``root``; every artifact is keyed by both."""

    def __init__(self, root: str, seed: int, profile: str):
        self.seed = int(seed)
        self.profile_name = profile
        self.p = PROFILES[profile]
        self.dir = os.path.join(root, f"{profile}-seed{self.seed}-"
                                      f"{_code_digest()}")
        meta = os.path.join(self.dir, "inputs.json")
        if not os.path.exists(meta):
            self._generate(meta)
        with open(meta) as f:
            m = json.load(f)
        self.pool = m["pool"]
        self.streams = m["streams"]
        self.input_bytes = m["input_bytes"]
        self.n_docs = m["n_docs"]

    @property
    def corpus_path(self) -> str:
        return os.path.join(self.dir, "corpus.parquet")

    @property
    def batch_path(self) -> str:
        return os.path.join(self.dir, "upsert.parquet")

    def _generate(self, meta: str) -> None:
        p = self.p
        os.makedirs(self.dir, exist_ok=True)
        rng = np.random.default_rng([self.seed, 0x6D6471])
        vocab = vocabulary(rng, p.n_words)
        rows, toks = code_table(rng, vocab, p.n_docs, p.mean_tokens)
        _write_parquet(rows, self.corpus_path)
        df = _doc_freq(vocab, toks)
        pool = _queries(rng, vocab, toks, df, rows["lang"], p.pool_variants)
        streams = _streams(rng, pool, 50)
        # the upsert batch: existing paths with new content, then new
        # paths
        nr, nn = p.upsert_replace, p.upsert_new
        batch, _ = code_table(rng, vocab, nr + nn, p.mean_tokens,
                              first_serial=p.n_docs)
        victims = rng.choice(p.n_docs, size=nr, replace=False)
        for j, v in enumerate(victims):
            for col in ("repo", "path", "lang"):
                batch[col][j] = rows[col][int(v)]
        _write_parquet(batch, self.batch_path)
        m = {"seed": self.seed, "profile": self.profile_name,
             "n_docs": p.n_docs,
             "input_bytes": sum(len(t.encode()) for t in rows["content"]),
             "pool": pool, "streams": streams}
        tmp = meta + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, meta)

    def read_rows(self, path: str) -> list[dict]:
        return pq.read_table(path).to_pylist()

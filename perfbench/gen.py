"""Seeded corpus and query generator for the zsolr benchmark.

Everything here is a pure function of its arguments: the same seed gives
byte-identical documents, planted near-duplicates and query streams.  The
engine under test only ever sees the generated rows (schema
``repo, path, commit, lang, content``) and query strings.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field
from functools import cached_property

import numpy as np

LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.45, 0.2, 0.15, 0.12, 0.08)
EXT = {"en": "py", "de": "java", "fr": "go", "es": "rs", "zh": "c"}
_ONSETS = ("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "ch", "st", "tr")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou")

VOCAB_SEED = 0   # the language: word spellings and their Zipf ranks

# query classes by document-frequency rank of their terms
CLASSES = ("hot", "mid", "rare")
SHAPES = ("term", "and", "or", "not", "phrase", "fq")


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int = 2000
    vocab: int = 30000
    zipf_s: float = 1.05          # P(rank r) ∝ r^-s
    len_mu: float = 4.0           # doc length ~ lognormal(mu, sigma) tokens
    len_sigma: float = 0.6
    min_len: int = 5
    max_len: int = 600
    dup_share: float = 0.03       # share of docs planted as near-duplicates
    dup_edit: float = 0.05        # share of tokens rewritten in a near-dup


@dataclass
class Corpus:
    spec: CorpusSpec
    seed: int
    rows: list = field(default_factory=list)      # dicts in input schema
    tokens: list = field(default_factory=list)    # per doc: np.int32 ranks
    words: list = field(default_factory=list)     # rank → term string
    planted: list = field(default_factory=list)   # (src row, dup row)
    df: np.ndarray | None = None                  # rank → document freq

    @cached_property
    def rank_of(self) -> dict[str, int]:
        return {t: r for r, t in enumerate(self.words)}

    @cached_property
    def postings(self) -> dict[int, list[int]]:
        """rank → ids of the documents holding it."""
        inv: dict[int, list[int]] = {}
        for d, t in enumerate(self.tokens):
            for r in np.unique(t).tolist():
                inv.setdefault(r, []).append(d)
        return inv

    def properties(self) -> dict:
        used = int((self.df > 0).sum())
        n_tok = int(sum(len(t) for t in self.tokens))
        n_bytes = int(sum(len(r["content"].encode()) for r in self.rows))
        return {"docs": len(self.rows), "distinct_terms": used,
                "tokens": n_tok, "content_bytes": n_bytes,
                "planted_pairs": len(self.planted),
                "max_df": int(self.df.max())}


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct pseudo-words of 1–4 syllables, in a seeded order."""
    out, seen = [], set()
    n_syl = len(_ONSETS) * len(_VOWELS)
    while len(out) < n:
        k = int(rng.integers(1, 5))
        idx = rng.integers(0, n_syl, size=k)
        w = "".join(_ONSETS[i // len(_VOWELS)] + _VOWELS[i % len(_VOWELS)]
                    for i in idx)
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _render(rng: np.random.Generator, words: list[str], toks) -> str:
    """Join tokens the way source text looks: mostly spaces, some
    punctuation, line breaks and capitals (the analyzer lowercases and
    splits on non-[a-z0-9] runs, so these never change the token stream)."""
    seps = rng.choice(np.array([" ", " ", " ", " ", ", ", ".\n", "(", "_"]),
                      size=len(toks))
    caps = rng.random(len(toks)) < 0.05
    parts = []
    for t, s, c in zip(toks, seps, caps):
        w = words[t]
        parts.append(w.capitalize() if c else w)
        parts.append(s)
    return "".join(parts).strip()


def make_corpus(seed: int, spec: CorpusSpec = CorpusSpec()) -> Corpus:
    """Documents drawn with ``seed`` from one fixed language: the
    vocabulary and its frequency ranks do not depend on the seed, as a
    real corpus is always written in the same language."""
    words = _words(np.random.default_rng(VOCAB_SEED), spec.vocab)
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, spec.vocab + 1, dtype=np.float64)
    p = ranks ** -spec.zipf_s
    cdf = np.cumsum(p / p.sum())
    n_dup = int(round(spec.n_docs * spec.dup_share))
    n_orig = spec.n_docs - n_dup
    lens = np.clip(rng.lognormal(spec.len_mu, spec.len_sigma, n_orig),
                   spec.min_len, spec.max_len).astype(np.int64)
    flat = np.searchsorted(cdf, rng.random(int(lens.sum())), side="right")
    flat = np.minimum(flat, spec.vocab - 1).astype(np.int32)
    tokens = np.split(flat, np.cumsum(lens)[:-1])
    # near-duplicates: copy an original and rewrite a few tokens
    srcs = rng.choice(n_orig, size=n_dup, replace=False) if n_dup else []
    planted = []
    for i, s in enumerate(srcs):
        t = tokens[s].copy()
        hit = rng.random(len(t)) < spec.dup_edit
        t[hit] = np.minimum(np.searchsorted(cdf, rng.random(int(hit.sum())),
                                            side="right"), spec.vocab - 1)
        tokens.append(t)
        planted.append((int(s), n_orig + i))
    # shuffle row order so duplicates are not clustered at the end
    order = rng.permutation(spec.n_docs)
    pos = np.empty_like(order)
    pos[order] = np.arange(spec.n_docs)
    tokens = [tokens[o] for o in order]
    planted = sorted((min(int(pos[a]), int(pos[b])),
                      max(int(pos[a]), int(pos[b]))) for a, b in planted)
    langs = rng.choice(len(LANGS), size=spec.n_docs, p=LANG_P)
    repos = rng.integers(0, max(1, spec.n_docs // 50), size=spec.n_docs)
    rows = []
    for i, t in enumerate(tokens):
        lang = LANGS[langs[i]]
        repo = f"org{repos[i] % 7}/repo{repos[i]}"
        path = f"src/d{i % 17}/f{i}.{EXT[lang]}"
        commit = hashlib.sha1(f"{seed}:{repo}/{path}".encode()).hexdigest()
        rows.append({"repo": repo, "path": path, "commit": commit,
                     "lang": lang, "content": _render(rng, words, t)})
    df = np.zeros(spec.vocab, dtype=np.int64)
    for t in tokens:
        df[np.unique(t)] += 1
    return Corpus(spec, seed, rows, tokens, words, planted, df)


def class_ranks(c: Corpus) -> dict[str, np.ndarray]:
    """Term ranks per query class, by realised df: hot = the ~30 most
    frequent terms, mid = df in [0.5%, 5%) of docs, rare = df in [2, 10]."""
    n = len(c.rows)
    order = np.argsort(-c.df, kind="stable")
    hot = order[:30]
    mid = np.flatnonzero((c.df >= max(3, n // 200)) & (c.df < max(4, n // 20)))
    rare = np.flatnonzero((c.df >= 2) & (c.df <= 10))
    return {"hot": hot, "mid": mid, "rare": rare}


def make_queries(seed: int, c: Corpus, n: int) -> list[dict]:
    """A stream of n distinct queries, each {q, shape, cls, fq?}.

    Shapes cycle through term / AND / OR / AND NOT / phrase / lang filter,
    classes through hot / mid / rare, so every (shape, class) cell gets
    samples.  Phrases are cut from a real document so they match."""
    rng = np.random.default_rng([seed, 1])
    pools = class_ranks(c)
    w = c.words
    out, seen = [], set()
    i = 0
    while len(out) < n:
        # every 18 consecutive queries cover each (shape, class) pair once
        shape = SHAPES[i % len(SHAPES)]
        cls = CLASSES[(i + i // len(SHAPES)) % len(CLASSES)]
        i += 1
        pool = pools[cls]
        a, b = (w[int(x)] for x in rng.choice(pool, size=2, replace=False))
        fq = None
        if shape == "term":
            q = a
        elif shape == "and":
            q = f"{a} AND {b}"
        elif shape == "or":
            q = f"{a} OR {b}"
        elif shape == "not":
            # the negated leg is a hot term so exclusion actually bites
            h = w[int(rng.choice(pools["hot"]))]
            if h == a:
                continue
            q = f"{a} AND NOT {h}"
        elif shape == "phrase":
            # two adjacent tokens cut from a document holding `a`
            ra = c.rank_of[a]
            docs = [d for d in c.postings[ra] if len(c.tokens[d]) > 1]
            t = c.tokens[docs[int(rng.integers(len(docs)))]]
            j = min(int(rng.choice(np.flatnonzero(t == ra))), len(t) - 2)
            q = f'"{w[t[j]]} {w[t[j + 1]]}"'
        else:
            lang = LANGS[int(rng.integers(len(LANGS)))]
            q = f"{a} AND lang:{lang}"
            fq = f"lang:{lang}"
        if q in seen:
            continue
        seen.add(q)
        out.append({"q": q, "shape": shape, "cls": cls, "fq": fq,
                    "base": a})
    return out


def query_properties(c: Corpus, qs: list[dict]) -> dict:
    """Realised df per class and the share of queries that bring a term
    the stream has not used before (what a per-searcher df cache misses)."""
    seen, first = set(), 0
    df: dict[str, list] = {k: [] for k in CLASSES}
    for q in qs:
        terms = set(terms_of(q["q"]))
        if terms - seen:
            first += 1
        seen |= terms
        df[q["cls"]].append(int(c.df[c.rank_of[q["base"]]]))
    return {"queries": len(qs),
            "first_seen_term_share": first / max(1, len(qs)),
            **{f"df_median.{k}": float(np.median(v)) if v else 0.0
               for k, v in df.items()}}


def terms_of(q: str) -> list[str]:
    """The content terms of a query string."""
    q = re.sub(r"lang:[a-z]+|\b(AND|OR|NOT)\b", " ", q)
    return re.findall(r"[a-z0-9]+", q.lower())


def make_writes(seed: int, c: Corpus, n_new: int, n_changed: int,
                n_delete: int) -> tuple[list, list, list]:
    """The update workload's writes: new documents drawn from the same
    vocabulary and Zipf law, changed versions of existing documents (same
    repo/path, a few tokens appended), and the (repo, path) keys of
    documents to delete afterwards (disjoint from the changed ones)."""
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, c.spec.vocab + 1, dtype=np.float64)
    p = ranks ** -c.spec.zipf_s
    cdf = np.cumsum(p / p.sum())

    def draw(k):
        return np.minimum(np.searchsorted(cdf, rng.random(k), side="right"),
                          c.spec.vocab - 1)

    new = []
    for i in range(n_new):
        k = int(np.clip(rng.lognormal(c.spec.len_mu, c.spec.len_sigma),
                        c.spec.min_len, c.spec.max_len))
        lang = LANGS[int(rng.integers(len(LANGS)))]
        repo, path = "org0/incoming", f"src/new/f{i}.{EXT[lang]}"
        new.append({"repo": repo, "path": path,
                    "commit": hashlib.sha1(f"{seed}:new:{i}".encode())
                    .hexdigest(), "lang": lang,
                    "content": _render(rng, c.words, draw(k))})
    picks = rng.choice(len(c.rows), size=n_changed + n_delete, replace=False)
    changed = []
    for r in picks[:n_changed]:
        row = dict(c.rows[int(r)])
        row["content"] += " " + _render(rng, c.words, draw(8))
        row["commit"] = hashlib.sha1(f"{seed}:chg:{r}".encode()).hexdigest()
        changed.append(row)
    deletes = [(c.rows[int(r)]["repo"], c.rows[int(r)]["path"])
               for r in picks[n_changed:]]
    return new, changed, deletes

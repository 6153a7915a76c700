"""Seeded inputs for the benchmark: a code-like corpus and a query stream.

The corpus has the engine's input shape (repo, path, commit, lang, content).
Identifiers are long-tail camelCase names, so each one lowercases to a
single index term and the lexicon has a real rare/mid/hot spread. A few
organisations (a minority of repos) carry non-ASCII comments, and their
repos sort contiguously, so the tokenizer sees both ASCII-only and mixed
slices.

Queries are drawn from the lexicon the engine built, by df stratum, with a
share of out-of-vocabulary terms. Everything is a pure function of the seed.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

CORPUS_COLS = ("repo", "path", "commit", "lang", "content")

_VERBS = (
    "get set is has make build parse load read write update compute handle "
    "init create find to from with apply merge split emit fetch store check "
    "resolve render encode decode flush open close scan sort map reduce "
    "filter visit"
).split()
_ADJS = (
    "cached raw local remote global inner outer next prev first last max min "
    "default current pending active dirty stale async sync safe fast lazy "
    "shared unique sorted hashed typed nested parsed encoded dense sparse "
    "temp base root"
).split()
_NOUNS = (
    "user name path file node tree list map key value index token term doc "
    "shard block buffer header body request response session config option "
    "state event handler queue stack frame page row column table schema "
    "query plan result score rank cursor reader writer stream socket packet "
    "message record field entry slot chunk batch segment range bound offset "
    "count size length width height color image layout widget view model "
    "context scope module package commit branch"
).split()
_KEYWORDS = {
    "python": "def return class import from self if else for in while try "
              "except with as lambda yield none true false".split(),
    "java": "public private static final class void int return new if else "
            "for while try catch throw import package this null".split(),
    "go": "func return package import var const type struct if else for "
          "range go defer chan map nil err".split(),
    "rust": "fn let mut pub struct impl enum match return if else for while "
            "use mod self crate trait where".split(),
    "cpp": "int void return class struct public private const auto if else "
           "for while new delete template typename namespace".split(),
}
_EXT = {"python": "py", "java": "java", "go": "go", "rust": "rs", "cpp": "cpp"}
_LANGS = tuple(_KEYWORDS)
_PUNCT = ("(", ") ", ", ", " = ", ".", ";\n", " ", "\n    ", " {\n", "}\n")
_NON_ASCII_WORDS = (
    "初始化", "用户", "缓存", "データ", "処理", "설정", "naïve", "café",
    "größe", "résumé", "überprüfen", "ñandú", "Ελληνικά", "проверка",
    "значение", "kümmern",
)
_MODULES = ("core", "util", "net", "io", "api", "db", "ui", "cli", "test")


# Shape of the corpus. Document length and identifier skew follow the
# repository's fixture spec (FIXTURES.md, `documents.content`: doc length
# ~U(30, 800) tokens, Zipf s~1.1 draws); the rest are choices, each with
# its reason.
MIN_TOKENS, MAX_TOKENS = 30, 800  # FIXTURES.md doc length, inclusive
ZIPF_S = 1.1                      # FIXTURES.md term skew
# Identifier space: FIXTURES.md's ~5k-term vocabulary (synth.vocab()) is
# snake_case, which tokenizes into keywords and bare numbers with almost no
# rare terms (about 20 with df <= 20); a 60k-name space keeps thousands in
# the Zipf tail, so the rare stratum (df <= 20) exists at a few thousand
# docs.
N_IDENTS = 60_000
# Share of words that are the file language's keywords: they occur in
# nearly every file of their language, the head of the df distribution,
# like FIXTURES.md's planted hot terms (>60% of docs).
KEYWORD_SHARE = 0.3
N_ORGS, REPOS_PER_ORG = 24, 8
# A minority of repos carry non-ASCII comments: 3 of 24 organisations, a
# comment in 60% of their files, so both the tokenizer's ASCII kernel and
# its per-doc fallback run.
I18N_ORGS, I18N_DOC_SHARE = 3, 0.6


def _identifiers(rng: np.random.Generator, n: int) -> list[str]:
    space = len(_VERBS) * len(_ADJS) * len(_NOUNS)
    picks = rng.choice(space, size=min(n, space), replace=False)
    nv, na = len(_VERBS), len(_ADJS)
    out = []
    for p in picks.tolist():
        v, rest = p % nv, p // nv
        a, n_ = rest % na, rest // na
        out.append(_VERBS[v] + _ADJS[a].capitalize() + _NOUNS[n_].capitalize())
    return out


def _org_names(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    names: set[str] = set()
    while len(names) < n:
        names.add("".join(rng.choice(letters, size=6)))
    return sorted(names)


def make_corpus(seed: int, n: int) -> pa.Table:
    """An ``n``-doc corpus as an Arrow table, byte-identical for a given seed."""
    rng = np.random.default_rng([seed, 1])
    idents = _identifiers(rng, N_IDENTS)
    orgs = _org_names(rng, N_ORGS)
    i18n = set(rng.choice(N_ORGS, size=I18N_ORGS, replace=False).tolist())
    n_repos = N_ORGS * REPOS_PER_ORG
    repo_lang = rng.integers(0, len(_LANGS), size=n_repos)
    # repo sizes are skewed: a few big repos, many small ones
    w = 1.0 / np.arange(1, n_repos + 1) ** 0.8
    repo_of = rng.choice(rng.permutation(n_repos), size=n, p=w / w.sum())
    org_of = repo_of // REPOS_PER_ORG
    lang_of = repo_lang[repo_of]

    # token stream: per doc, a length; per token, keyword or identifier
    lens = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n)
    total = int(lens.sum())
    doc_of_tok = np.repeat(np.arange(n), lens)
    ranks = np.arange(1, N_IDENTS + 1, dtype=np.float64)
    zipf = 1.0 / ranks ** ZIPF_S
    ident_idx = rng.choice(N_IDENTS, size=total, p=zipf / zipf.sum())
    is_kw = rng.random(total) < KEYWORD_SHARE
    kw_width = max(len(v) for v in _KEYWORDS.values())
    kw_idx = rng.integers(0, kw_width, size=total)
    kw_lists = [v + v[: kw_width - len(v)] for v in _KEYWORDS.values()]
    kw_flat = [w_ for v in kw_lists for w_ in v]
    punct_idx = rng.integers(0, len(_PUNCT), size=total)

    comments = [
        "// " + " ".join(rng.choice(_NON_ASCII_WORDS, size=3).tolist()) + "\n"
        for _ in range(64)
    ]
    has_comment = np.isin(org_of, list(i18n)) & (
        rng.random(n) < I18N_DOC_SHARE)
    comment_idx = rng.integers(0, len(comments), size=n)

    # one string dictionary, then an index stream: [comment] w p w p ...
    words = kw_flat + idents + list(_PUNCT) + comments
    kw_base, id_base = 0, len(kw_flat)
    p_base = id_base + len(idents)
    c_base = p_base + len(_PUNCT)
    word_ix = np.where(
        is_kw, kw_base + lang_of[doc_of_tok] * kw_width + kw_idx,
        id_base + ident_idx)
    stream = np.empty(2 * total, dtype=np.int64)
    stream[0::2] = word_ix
    stream[1::2] = p_base + punct_idx
    per_doc = 2 * lens
    starts = np.concatenate(([0], np.cumsum(per_doc)[:-1]))
    cdocs = np.flatnonzero(has_comment)
    stream = np.insert(stream, starts[cdocs], c_base + comment_idx[cdocs])
    per_doc = per_doc + has_comment
    offsets = np.concatenate(([0], np.cumsum(per_doc))).astype(np.int32)
    values = pa.array(words).take(pa.array(stream))
    content = pc.binary_join(pa.ListArray.from_arrays(offsets, values), "")

    mods = rng.integers(0, len(_MODULES), size=n)
    fname = rng.integers(0, N_IDENTS, size=n)
    commits = rng.integers(0, 1 << 48, size=n)
    repo_names = [
        f"{orgs[r // REPOS_PER_ORG]}/{idents[r * 7 % len(idents)].lower()}"
        for r in range(n_repos)
    ]
    return pa.table({
        "repo": pa.array([repo_names[r] for r in repo_of.tolist()]),
        "path": pa.array([
            f"src/{_MODULES[m]}/{idents[f]}{i}.{_EXT[_LANGS[g]]}"
            for i, (m, f, g) in enumerate(zip(mods.tolist(), fname.tolist(),
                                               lang_of.tolist()))
        ]),
        "commit": pa.array([f"{c:012x}" for c in commits.tolist()]),
        "lang": pa.array([_LANGS[g] for g in lang_of.tolist()]),
        "content": content.cast(pa.string()),
    })


def corpus_properties(tbl: pa.Table) -> dict:
    content = tbl.column("content")
    non_ascii = pc.invert(pc.string_is_ascii(content))
    return {
        "docs": tbl.num_rows,
        "content_bytes": int(pc.sum(pc.binary_length(content)).as_py()),
        "non_ascii_doc_share": round(
            pc.sum(non_ascii.cast(pa.int64())).as_py() / tbl.num_rows, 4),
        "repos": len(pc.unique(tbl.column("repo"))),
    }


# --- queries -----------------------------------------------------------------

STRATA = ("rare", "mid", "hot")


# Every block of 8 queries holds each (mode, term count) pair once, in the
# same order for every seed and stream, so a window of a few calls sees the
# same mix whatever the seed; the seed picks the terms.
SHAPES = (("AND", 2), ("OR", 1), ("AND", 3), ("OR", 4),
          ("AND", 1), ("OR", 2), ("AND", 4), ("OR", 3))


K = 10            # results per query, the engine's default
OOV_SHARE = 0.1   # one query in ten carries an out-of-vocabulary term
# No source gives a per-stratum query mix, so each stratum gets an equal
# share and all three are measured alike.
STRATUM_P = (1 / 3, 1 / 3, 1 / 3)


def lexicon_strata(terms: list[str], dfs: np.ndarray, n_docs: int) -> dict:
    """Split the lexicon by df: rare <= 20, hot >= 2% of docs, mid between."""
    dfs = np.asarray(dfs)
    order = np.argsort(np.asarray(terms, dtype=object), kind="stable")
    terms = [terms[i] for i in order]
    dfs = dfs[order]
    hot_cut = max(21, int(0.02 * n_docs))
    masks = {"rare": dfs <= 20, "mid": (dfs > 20) & (dfs < hot_cut),
             "hot": dfs >= hot_cut}
    return {s: [t for t, m in zip(terms, masks[s]) if m] for s in STRATA}


@dataclass(frozen=True)
class GenQuery:
    terms: tuple[str, ...]
    mode: str
    strata: tuple[str, ...]  # per term; "oov" for out-of-vocabulary
    k: int


def doc_strata(doc_terms: list[list[str]], strata: dict) -> list[dict]:
    """Per sampled document, its lexicon terms grouped by stratum."""
    stratum_of = {t: s for s, terms in strata.items() for t in terms}
    out = []
    for terms in doc_terms:
        by: dict[str, list[str]] = {}
        for t in sorted(set(terms)):
            if t in stratum_of:
                by.setdefault(stratum_of[t], []).append(t)
        if by:
            out.append(by)
    return out


def make_queries(seed: int, strata: dict, n: int, docs: list[dict],
                 stream: int = 2, oov_share: float = OOV_SHARE) -> list[GenQuery]:
    """``n`` queries; ``stream`` separates independent sequences of one seed.

    OR terms are drawn from the whole lexicon by stratum. AND terms are
    drawn the same way from one sampled document's terms (``docs``, from
    ``doc_strata``), as a user's conjunctive query names terms that occur
    together."""
    rng = np.random.default_rng([seed, stream])
    oov_every = round(1 / oov_share) if oov_share else 0
    out = []
    for i in range(n):
        mode, n_terms = SHAPES[i % len(SHAPES)]
        pools = strata
        if mode == "AND":
            pools = docs[int(rng.integers(0, len(docs)))]
        avail = [s for s in STRATA if pools.get(s)]
        p = np.array([STRATUM_P[STRATA.index(s)] for s in avail])
        p = p / p.sum()
        picked: list[str] = []
        kinds: list[str] = []
        for _ in range(n_terms):
            s = avail[int(rng.choice(len(avail), p=p))]
            pool = pools[s]
            t = pool[int(rng.integers(0, len(pool)))]
            if t not in picked:
                picked.append(t)
                kinds.append(s)
        if oov_every and (i + 1) % oov_every == 0:
            # letters only, so the term tokenizes to itself; the 'zq' prefix
            # never occurs in the generated vocabulary
            picked.append("zq" + "".join(
                rng.choice(list("bcdfghjklmnpqrstvwxz"), size=8).tolist()))
            kinds.append("oov")
        out.append(GenQuery(tuple(picked), mode, tuple(kinds), K))
    return out


def query_properties(queries: list[GenQuery]) -> dict:
    n = len(queries)
    terms = [s for q in queries for s in q.strata]
    props = {"queries": n,
             "and_share": round(sum(q.mode == "AND" for q in queries) / n, 3),
             "oov_query_share": round(
                 sum("oov" in q.strata for q in queries) / n, 3),
             "mean_terms": round(len(terms) / n, 3)}
    for s in STRATA:
        props[f"{s}_term_share"] = round(terms.count(s) / len(terms), 3)
    return props

"""Seeded input generator and the independent BM25 reference.

Nothing here imports the program: the inputs are made with numpy from
the seed alone, and the expected answers (per-term df, BM25 top-k) are
computed from the generator's own token lists.  The vocabulary is built
so that the standard analyzer's output is known without running it:

- body words are lowercase ASCII letter runs separated by single spaces,
  so each word is one token and one term;
- an accented word carries exactly one of ``áéíóú`` and no other
  non-ASCII letter; the analyzer (lowercase, asciifolding with
  preserve_original) emits its folded form and the original at one
  position, so it adds two terms and one to the document length;
- marker words (changefeed) start with ``xq``; ``x`` and ``q`` never
  occur in a body or accented word, so a marker is a term of its own.

BM25 follows Lucene: idf = ln(1 + (N - df + 0.5) / (df + 0.5)),
tf-norm = tf (k1 + 1) / (tf + k1 (1 - b + b dl / avgdl)), k1 = 1.2,
b = 0.75, with dl counted in positions.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

K1 = 1.2
B = 0.75

_CONS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_ACCENT = {"a": "á", "e": "é", "i": "í", "o": "ó", "u": "ú"}
SYLLABLES = [c + v for c in _CONS for v in _VOWELS]

N_BODY = 20_000      # Zipf-ranked body vocabulary
N_ACCENT = 200       # accented words (each gives a folded and an original term)
ZIPF_S = 1.0
MEAN_LEN = 48        # mean body tokens per document
P_ACCENT = 0.02      # chance a token is an accented word

HOT_RANKS = (0, 12)       # df well above 20% of the corpus
MID_RANKS = (40, 1500)
RARE_RANKS = (8000, N_BODY)


def _word(i: int) -> str:
    """Body word i: the base-70 digits of i + 70 spelled as syllables
    (at least two syllables, distinct for distinct i)."""
    n, out = i + len(SYLLABLES), []
    while n:
        n, r = divmod(n, len(SYLLABLES))
        out.append(SYLLABLES[r])
    return "".join(reversed(out))


def _accented(j: int) -> tuple[str, str]:
    """(original, folded) for accented word j.  Built from indices past
    the body vocabulary, so neither form is a body word."""
    folded = _word(N_BODY + j)
    pos = max(i for i, ch in enumerate(folded) if ch in _ACCENT)
    return folded[:pos] + _ACCENT[folded[pos]] + folded[pos + 1:], folded


def marker(b: int) -> str:
    """Seed-independent marker word for changefeed batch b."""
    return "xq" + _word(b)


BODY_WORDS = [_word(i) for i in range(N_BODY)]
ACCENTED = [_accented(j) for j in range(N_ACCENT)]
# token ids: [0, N_BODY) body words, then one id per accented word
TOKEN_TEXT = np.array(BODY_WORDS + [a for a, _ in ACCENTED], dtype=object)
# term ids: body words, folded accent forms, original accent forms
N_TERMS = N_BODY + 2 * N_ACCENT
TERM_TEXT = BODY_WORDS + [f for _, f in ACCENTED] + [a for a, _ in ACCENTED]
TERM_ID = {t: i for i, t in enumerate(TERM_TEXT)}

_ZIPF_CDF = np.cumsum(1.0 / np.arange(1, N_BODY + 1) ** ZIPF_S)
_ZIPF_CDF /= _ZIPF_CDF[-1]


def sample_docs(rng: np.random.Generator, n: int) -> list[np.ndarray]:
    """n documents as arrays of token ids."""
    lens = np.maximum(5, rng.poisson(MEAN_LEN, n))
    toks = np.searchsorted(_ZIPF_CDF, rng.random(int(lens.sum())))
    acc = rng.random(len(toks)) < P_ACCENT
    toks[acc] = N_BODY + rng.integers(0, N_ACCENT, int(acc.sum()))
    return np.split(toks, np.cumsum(lens)[:-1])


def doc_text(tokens: np.ndarray) -> str:
    return " ".join(TOKEN_TEXT[tokens])


def doc_terms(tokens: np.ndarray) -> np.ndarray:
    """Term ids the analyzer emits for a token array (with repeats):
    every token's own term, plus the folded form of accented words."""
    acc = tokens[tokens >= N_BODY]
    # an accented token id N_BODY + j emits folded N_BODY + j and
    # original N_BODY + N_ACCENT + j
    return np.concatenate([tokens[tokens < N_BODY], acc, acc + N_ACCENT])


def bm25(tf: np.ndarray, dl: np.ndarray, df: int, n_docs: int, avgdl: float) -> np.ndarray:
    """One term's BM25 contributions for postings with the given tf, dl."""
    idf = float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return idf * ((tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl)))


class Reference:
    """Exact corpus statistics and BM25 scoring, computed from the
    generator's token lists alone."""

    def __init__(self, docs: dict[int, np.ndarray]) -> None:
        """`docs`: doc_id → token ids."""
        self.ids = np.array(sorted(docs), dtype=np.int64)
        self.n_docs = len(self.ids)
        self._dls = np.array([len(docs[d]) for d in self.ids], dtype=np.int64)
        self.sum_dl = int(self._dls.sum())
        self.avgdl = float(self.sum_dl) / float(self.n_docs)
        terms = [doc_terms(docs[d]) for d in self.ids]
        pair_doc = np.repeat(np.arange(self.n_docs), [len(t) for t in terms])
        key = np.concatenate(terms).astype(np.int64) * self.n_docs + pair_doc
        uniq, tf = np.unique(key, return_counts=True)
        self._doc = uniq % self.n_docs          # positions into self.ids
        self._tf = tf
        self._start = np.searchsorted(uniq // self.n_docs, np.arange(N_TERMS + 1))

    def df(self, term: str) -> int:
        t = TERM_ID.get(term)
        return 0 if t is None else int(self._start[t + 1] - self._start[t])

    def scores(self, terms: set[str]) -> dict[int, float]:
        """doc_id → BM25 score for every doc matching any term."""
        acc = np.zeros(self.n_docs)
        hit = np.zeros(self.n_docs, bool)
        for term in sorted(terms):
            t = TERM_ID.get(term)
            if t is None or self._start[t] == self._start[t + 1]:
                continue
            lo, hi = self._start[t], self._start[t + 1]
            pos = self._doc[lo:hi]
            acc[pos] += bm25(self._tf[lo:hi], self._dls[pos], hi - lo, self.n_docs, self.avgdl)
            hit[pos] = True
        idx = np.nonzero(hit)[0]
        return dict(zip(self.ids[idx].tolist(), acc[idx].tolist()))


def query_terms(text: str) -> set[str]:
    """The analyzed term set of a query made of generator words."""
    out = set()
    for w in text.split():
        out.add(w)
        if not w.isascii():
            out.add(next(f for a, f in ACCENTED if a == w))
    return out


def make_queries(rng: np.random.Generator, n: int, docs: list[np.ndarray]) -> list[str]:
    """A query pool: hot, hot+mid, mid, rare and accented queries.  The
    kinds come in a fixed cycle, so the first m queries of every seed's
    pool hold the same kinds in the same order; only the words differ.
    Rare words are drawn from those that occur in `docs`, so every query
    matches at least one document."""
    def pick(lo_hi, size=1):
        return [BODY_WORDS[i] for i in rng.integers(lo_hi[0], lo_hi[1], size)]

    toks = np.concatenate(docs)
    rare = np.unique(toks[(toks >= RARE_RANKS[0]) & (toks < RARE_RANKS[1])])

    kinds = ["hot", "hot_mid", "hot_mid", "mid", "mid", "mid_pair", "rare", "rare", "accent", "accent_mid"]
    out = []
    for i in range(n):
        kind = kinds[i % len(kinds)]
        if kind == "hot":
            words = pick(HOT_RANKS)
        elif kind == "hot_mid":
            words = pick(HOT_RANKS) + pick(MID_RANKS)
        elif kind == "mid":
            words = pick(MID_RANKS)
        elif kind == "mid_pair":
            words = pick(MID_RANKS, 2)
        elif kind == "rare":
            words = [BODY_WORDS[i] for i in rng.choice(rare, 2)]
        elif kind == "accent":
            words = [ACCENTED[int(rng.integers(0, N_ACCENT))][0]]
        else:
            words = [ACCENTED[int(rng.integers(0, N_ACCENT))][0]] + pick(MID_RANKS)
        out.append(" ".join(words))
    return out


@dataclass
class Batch:
    """One changefeed micro-batch."""
    marker: str
    updates: list[tuple[str, str]]   # (url, new text) of live backfilled docs
    inserts: list[tuple[str, str]]   # (url, text) of brand-new urls
    deletes: list[str]               # urls of other live backfilled docs


class ChangeStream:
    """Seeded stream of micro-batches of one fixed shape: updates of
    live backfilled docs and brand-new urls, whose texts all carry the
    batch's marker word, and deletes of other live backfilled docs.
    New urls are never touched again.  Tracks every live doc's length
    in positions, so BM25 over the live corpus stays computable."""

    def __init__(self, rng: np.random.Generator, dl: dict[str, int],
                 n_update: int, n_insert: int, n_delete: int) -> None:
        self.rng = rng
        self.dl = dict(dl)               # url → positions, every live doc
        self.backfilled = sorted(dl)     # live backfilled urls
        self.shape = (n_update, n_insert, n_delete)
        self.b = 0

    def next(self) -> Batch:
        n_up, n_ins, n_del = self.shape
        pick = self.rng.choice(len(self.backfilled), n_up + n_del, replace=False)
        urls = [self.backfilled[i] for i in pick]
        m = marker(self.b)
        bodies = sample_docs(self.rng, n_up + n_ins)
        texts = [doc_text(t) + " " + m for t in bodies]
        ups = list(zip(urls[:n_up], texts[:n_up]))
        ins = [(f"https://bench.example/b{self.b}/n{i}", texts[n_up + i]) for i in range(n_ins)]
        for (url, _), body in zip(ups + ins, bodies):
            self.dl[url] = len(body) + 1
        for url in urls[n_up:]:
            del self.dl[url]
        gone = set(urls[n_up:])
        self.backfilled = [u for u in self.backfilled if u not in gone]
        self.b += 1
        return Batch(m, ups, ins, urls[n_up:])

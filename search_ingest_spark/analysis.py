"""Text extraction + analyzer (tokenizer) — the per-row invariant surface.

The reference configures (does not implement) its analyzer in
`/root/reference/src/search-ingest/schemas.cr:62-77`:

    tokenizer: "standard"            # Lucene StandardTokenizer (UAX#29)
    filters:   lowercase, asciifolding(preserve_original: true)

so "Café" is indexed as BOTH ``cafe`` and ``café`` at the same position.
This module reproduces that pipeline natively:

- :func:`standard_tokens` — pure-Python UAX#29-approximating word
  segmentation (word runs of ``\\w``; apostrophes join letters, ``.``/``,``
  join digit runs — matching Lucene's StandardTokenizer on the common
  cases; golden-tested in tests/test_analysis.py).
- :func:`fold_ascii` — Latin-1/Latin-Extended → ASCII folding
  approximating Lucene ASCIIFoldingFilter (NFKD strip + explicit map for
  ß→ss, æ→ae, ø→o, đ→d, þ→th, œ→oe, ł→l …).
- :func:`analyze` — full pipeline returning (terms incl. preserved
  originals, n_positions).  Stacked (preserve_original) tokens share a
  position, and Lucene's BM25 length norm discounts overlaps
  (discountOverlaps=true default), so document length = n_positions,
  NOT len(terms).

Spark-facing wrappers are vectorized Arrow UDFs (input_hint: "no per-row
Python" — i.e. no row-at-a-time ``udf()``; these are pandas_udf batches).

There is additionally a *simple* analyzer (:func:`simple_tokens_col`)
expressed entirely in JVM-side Catalyst expressions
(``regexp_extract_all(lower(text), '[a-z0-9]+')``) — byte-equivalent to
the full analyzer on pure-ASCII space-separated corpora (like the driver
testdata) and exactly reproducible in the DuckDB oracle SQL, so the
driver's correctness gate compares identical token streams.
"""

from __future__ import annotations

import re
import unicodedata
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# ---------------------------------------------------------------------------
# Tokenization (UAX#29 approximation of Lucene "standard")
# ---------------------------------------------------------------------------

# Order matters: number-with-separators first so "3.14" wins over "3".
# CJK follows Lucene StandardTokenizer's UAX#29 behavior: Han and
# Hiragana characters do not chain (one token per ideograph/kana — what
# makes CJK search work at all without a segmenter), Katakana DOES
# chain into runs (WB13), and CJK never merges with adjacent Latin
# ("東京tower" → 東, 京, tower).  Everything else: \w runs (Unicode
# letters/digits/underscore ≈ ALetter+ExtendNumLet) joined by
# MidNumLet apostrophes.
_HAN = "㐀-䶿一-鿿豈-﫿"
_HIRA = "぀-ゟ"
_KATA = "゠-ヿㇰ-ㇿ"
_TOKEN_RE = re.compile(
    r"\d+(?:[.,]\d+)+"                # numeric runs joined by MidNum . or ,
    rf"|[{_KATA}]+"                   # katakana runs chain (incl. ー)
    rf"|[{_HAN}{_HIRA}]"              # han/hiragana: one token per char
    rf"|[^\W{_HAN}{_HIRA}{_KATA}]+"   # word runs (CJK excluded) ...
    rf"(?:['’][^\W{_HAN}{_HIRA}{_KATA}]+)*",  # ... apostrophe-joined
    re.UNICODE,
)

# Lucene ASCIIFoldingFilter cases NFKD cannot produce.
_FOLD_MAP = str.maketrans(
    {
        "ß": "ss", "ẞ": "SS",
        "æ": "ae", "Æ": "AE",
        "œ": "oe", "Œ": "OE",
        "ø": "o", "Ø": "O",
        "đ": "d", "Đ": "D",
        "ð": "d", "Ð": "D",
        "þ": "th", "Þ": "TH",
        "ł": "l", "Ł": "L",
        "ħ": "h", "Ħ": "H",
        "ı": "i",
        "ŋ": "n", "Ŋ": "N",
    }
)


def standard_tokens(text: str) -> list[str]:
    """UAX#29-style word segmentation (pre-filter token stream)."""
    if not text:
        return []
    return _TOKEN_RE.findall(text)


def fold_ascii(token: str) -> str:
    """Fold accented/Latin-extended chars to ASCII (Lucene ASCIIFolding)."""
    token = token.translate(_FOLD_MAP)
    if token.isascii():
        return token
    # Canonical (NFD) decomposition then drop combining marks — NOT NFKD:
    # compatibility decomposition would also fold math alphanumerics and
    # ligature forms Lucene's ASCIIFoldingFilter leaves alone (and can
    # resurface uppercase after the lowercase filter).  Chars with no
    # mapping pass through, like the reference filter.
    nfd = unicodedata.normalize("NFD", token)
    return "".join(c for c in nfd if not unicodedata.combining(c))


def analyze(text: str) -> tuple[list[str], int]:
    """Full analyzer: standard tokenize → lowercase → asciifolding with
    preserve_original.  Returns (terms, n_positions).

    When folding changes a token, BOTH the folded and the original form
    are emitted (same position, like Lucene's preserveOriginal=true), so
    tf counts include the stack but the length norm (n_positions) does
    not (Lucene discountOverlaps=true).
    """
    if not text:
        return [], 0
    if text.isascii():
        # fast path: ASCII text folds to itself and stacks nothing, so
        # lowercase once and tokenize — identical output, ~2x cheaper
        # (the common case for web-scale English text)
        out = _TOKEN_RE.findall(text.lower())
        return out, len(out)
    base = standard_tokens(text)
    out: list[str] = []
    for tok in base:
        low = tok.lower()
        folded = fold_ascii(low)
        out.append(folded)
        if folded != low:
            out.append(low)
    return out, len(base)


def analyze_pos(text: str) -> list[tuple[str, int]]:
    """Position-preserving analyzer: [(term, position)].  Stacked
    (preserve_original) tokens share their base token's position —
    exactly how Lucene records the ES mapping's
    `asciifolding(preserve_original: true)` stack (schemas.cr:62-77),
    which is what makes `match_phrase` work across folded/original
    forms."""
    if not text:
        return []
    if text.isascii():
        return list(
            (t, i) for i, t in enumerate(_TOKEN_RE.findall(text.lower()))
        )
    out: list[tuple[str, int]] = []
    for i, tok in enumerate(standard_tokens(text)):
        low = tok.lower()
        folded = fold_ascii(low)
        out.append((folded, i))
        if folded != low:
            out.append((low, i))
    return out


# ---------------------------------------------------------------------------
# Text extraction (reference analog: the doc's `text` IS the row content,
# elastic.cr:230 serializes the row verbatim; input_hint demands a
# deterministic html → text with byte-identical output per url).
# ---------------------------------------------------------------------------

_TAG_RE = re.compile(rb"<script\b.*?</script>|<style\b.*?</style>", re.S | re.I)
_MARKUP_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(r"[ \t\r\f\v]*\n[ \t\r\f\v]*|\s{2,}")


def extract_text(html: bytes | None) -> str:
    """Deterministic html→text: drop script/style blocks, strip tags,
    decode utf-8 (replace), collapse whitespace.  Pure function —
    byte-identical output for identical input, per BASELINE input_hint."""
    if html is None:
        return ""
    stripped = _MARKUP_RE.sub(b" ", _TAG_RE.sub(b" ", html))
    text = stripped.decode("utf-8", errors="replace")
    return _WS_RE.sub(" ", text).strip()


# ---------------------------------------------------------------------------
# Vectorized Spark wrappers (Arrow batches — the only Python in the row path)
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def extract_text_udf(htmls: pd.Series) -> pd.Series:
    return htmls.map(extract_text)


def simple_tokens_col(text_col: str | Column) -> Column:
    """Oracle-compatible analyzer as a pure Catalyst expression (JVM-side,
    whole-stage-codegen; zero Python).  Equivalent DuckDB SQL:
    ``regexp_extract_all(lower(text), '[a-z0-9]+')``."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9]+"), 0)


def doc_terms_pandas(
    it: Iterator[pd.DataFrame],
    *,
    id_col: str,
    text_col: str,
    mode: str = "standard",
    with_positions: bool = False,
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: rows(id, text, …) → rows(doc_id, term, tf, dl
    [, positions]).

    tf and dl are doc-local, so this stage needs NO shuffle: term
    frequencies are fully aggregated before anything hits the exchange.
    `mode`: "standard" (full analyzer) | "simple" (ASCII regex analyzer).
    `with_positions=True` adds each (doc, term)'s position list in the
    SAME pass — a positions-enabled build tokenizes and shuffles once,
    not twice (the positions table is a projection of the one exchange).
    """
    simple_re = re.compile(r"[a-z0-9]+")
    for batch in it:
        ids: list = []
        terms: list[str] = []
        tfs: list[int] = []
        dls: list[int] = []
        poss: list[list[int]] = []
        for doc_id, text in zip(batch[id_col].values, batch[text_col].values):
            if text is None:
                continue
            if with_positions:
                if mode == "simple":
                    pairs = [(t, i) for i, t in
                             enumerate(simple_re.findall(text.lower()))]
                    dl = len(pairs)
                else:
                    pairs = analyze_pos(text)
                    dl = 1 + pairs[-1][1] if pairs else 0
                agg: dict[str, list[int]] = {}
                for t, p in pairs:
                    agg.setdefault(t, []).append(p)
                ids.extend([doc_id] * len(agg))
                terms.extend(agg.keys())
                tfs.extend(len(v) for v in agg.values())
                dls.extend([dl] * len(agg))
                poss.extend(agg.values())
                continue
            if mode == "simple":
                toks = simple_re.findall(text.lower())
                dl = len(toks)
            else:
                toks, dl = analyze(text)
            # Counter counts in C with first-encounter key order —
            # identical rows to the manual dict loop, ~1.8x faster
            counts = Counter(toks)
            ids.extend([doc_id] * len(counts))
            terms.extend(counts.keys())
            tfs.extend(counts.values())
            dls.extend([dl] * len(counts))
        out = {"doc_id": pd.array(ids, dtype="int64"), "term": terms,
               "tf": pd.array(tfs, dtype="int32"),
               "dl": pd.array(dls, dtype="int32")}
        if with_positions:
            out["positions"] = poss
        yield pd.DataFrame(out)


def doc_bigrams_pandas(
    it: Iterator[pd.DataFrame],
    *,
    text_col: str,
    mode: str = "standard",
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: rows(id, text) → doc-LOCAL adjacent-bigram
    counts (w1, w2, cnt) — the map-side combine of the corpus bigram
    LM the phrase suggester scores with.  Adjacency is POSITION order:
    for the standard analyzer the stacked preserve_original token is
    skipped (one token per position, the folded form), so "café au"
    yields (cafe, au) — never the (cafe, café) artifact of the raw
    emission stream.  Partial counts aggregate per Arrow batch; the
    global groupBy sum in the build stage completes the count."""
    simple_re = re.compile(r"[a-z0-9]+")
    for batch in it:
        counts: dict[tuple[str, str], int] = {}
        for text in batch[text_col].values:
            if text is None:
                continue
            if mode == "simple":
                toks = simple_re.findall(text.lower())
            else:
                seen_pos = -1
                toks = []
                for t, p in analyze_pos(text):
                    if p != seen_pos:
                        toks.append(t)
                        seen_pos = p
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            continue
        keys = list(counts)
        yield pd.DataFrame({
            "w1": pd.array([k[0] for k in keys], dtype="str"),
            "w2": pd.array([k[1] for k in keys], dtype="str"),
            "cnt": pd.array([counts[k] for k in keys], dtype="int64"),
        })

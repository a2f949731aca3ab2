"""Analyzer chain: tokenize -> stopword filter -> Porter stem.

Two modes (SURVEY.md §1.2, §2.7-X1):

- ``standard``: Unicode-ish word split + lowercase ONLY.  This reproduces the
  reference's sole analyzer ``english_text`` whose type is ``standard`` — no
  stopwords, no stemming despite the name
  (reference: backend/search/mapping.json:9-13).
- ``porter``: standard + English stopword removal + Porter stemming — the
  north-rule chain.

The kernels here are pure Python/pandas functions; the Spark entry points are
vectorized pandas UDFs built by :func:`make_analyze_udf` (Arrow-batched, no
row-at-a-time Python UDF registration).  The same kernels are imported by
``tests/oracle.py`` so engine-vs-oracle rank identity is about the distributed
plumbing, never about analyzer drift.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Token = maximal run of lowercase alnum.  Matches the DuckDB oracle regex
# `regexp_extract_all(lower(text), '[a-z0-9]+')` exactly (corpus is ASCII).
_TOKEN_RE = re.compile(r"[a-z0-9]+")

# Classic Lucene/English stop set (public Lucene EnglishAnalyzer default).
STOPWORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

# ---------------------------------------------------------------------------
# Porter stemmer — faithful implementation of M.F. Porter, "An algorithm for
# suffix stripping", Program 14(3) 1980 (public algorithm).  Original (not
# "Porter2") variant; validated against published test vectors in
# tests/test_analysis.py.
# ---------------------------------------------------------------------------

_VOWELS = "aeiou"


def _is_cons(word: str, i: int) -> bool:
    ch = word[i]
    if ch in _VOWELS:
        return False
    if ch == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Number of VC sequences in [C](VC)^m[V]."""
    m = 0
    i, n = 0, len(stem)
    while i < n and _is_cons(stem, i):
        i += 1
    while i < n:
        while i < n and not _is_cons(stem, i):
            i += 1
        if i >= n:
            break
        m += 1
        while i < n and _is_cons(stem, i):
            i += 1
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _cvc(word: str) -> bool:
    """*o condition: stem ends cvc where the final c is not w, x or y."""
    if len(word) < 3:
        return False
    return (
        _is_cons(word, len(word) - 3)
        and not _is_cons(word, len(word) - 2)
        and _is_cons(word, len(word) - 1)
        and word[-1] not in "wxy"
    )


_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
]

_STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]

_STEP4 = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def porter_stem(word: str) -> str:
    if len(word) <= 2:
        return word
    w = word

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # Step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        fired = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w = w[:-2]
            fired = True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w = w[:-3]
            fired = True
        if fired:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _ends_double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _measure(w) == 1 and _cvc(w):
                w += "e"

    # Step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # Step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break

    # Step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break

    # Step 4
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 1:
                if suf == "ion" and (not stem or stem[-1] not in "st"):
                    break
                w = stem
            break

    # Step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem

    # Step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]

    return w


# ---------------------------------------------------------------------------
# Tokenization
# ---------------------------------------------------------------------------


def tokenize_text(text: str | None, mode: str = "standard") -> list[str]:
    """Analyze one string. ``mode`` in {'standard', 'porter'}."""
    if not text:
        return []
    toks = _TOKEN_RE.findall(text.lower())
    if mode == "standard":
        return toks
    if mode == "porter":
        cache: dict[str, str] = {}
        out = []
        for t in toks:
            if t in STOPWORDS:
                continue
            s = cache.get(t)
            if s is None:
                s = porter_stem(t)
                cache[t] = s
            out.append(s)
        return out
    raise ValueError(f"unknown analyzer mode: {mode}")


def term_counts(tokens: list[str]) -> list[tuple[str, int]]:
    """(term, tf) pairs sorted by term — the fixed summation order that makes
    engine and oracle BM25 sums bit-identical (SURVEY.md §7 hard part (a))."""
    return sorted(Counter(tokens).items())


def analyze_batch(
    texts: pd.Series, mode: str = "standard"
) -> tuple[list[list[tuple[str, int]]], list[int]]:
    """Batch kernel shared by the pandas UDF and the oracle.

    Returns (per-row sorted (term, tf) pairs, per-row doc_len).  doc_len is
    the POST-filter token count (what BM25's length norm sees).
    """
    lowered = texts.fillna("").str.lower().str.findall(_TOKEN_RE)
    stem_cache: dict[str, str] = {}
    pairs_out: list[list[tuple[str, int]]] = []
    lens_out: list[int] = []
    porter = mode == "porter"
    if not porter and mode != "standard":
        raise ValueError(f"unknown analyzer mode: {mode}")
    for toks in lowered:
        if porter:
            kept = []
            for t in toks:
                if t in STOPWORDS:
                    continue
                s = stem_cache.get(t)
                if s is None:
                    s = porter_stem(t)
                    stem_cache[t] = s
                kept.append(s)
            toks = kept
        lens_out.append(len(toks))
        pairs_out.append(sorted(Counter(toks).items()))
    return pairs_out, lens_out


# Worker-lifetime stem memo.  Bounded: long-lived Python workers over a
# huge-vocabulary corpus would otherwise grow this dict monotonically (a slow
# executor memory leak).  Clearing on overflow keeps the common-term hit rate
# (hot terms re-enter immediately) with an O(1) cap.
_STEM_CACHE: dict[str, str] = {}
_STEM_CACHE_MAX = 1 << 20


def _stem_cached(t: str) -> str:
    s = _STEM_CACHE.get(t)
    if s is None:
        if len(_STEM_CACHE) >= _STEM_CACHE_MAX:
            _STEM_CACHE.clear()
        s = porter_stem(t)
        _STEM_CACHE[t] = s
    return s


# Byte LUTs for the ASCII fast path: one gather lowers A-Z, one classifies
# [a-z0-9].  Bytes >= 0x80 (multibyte UTF-8) classify as separators, which is
# only correct when no non-ASCII char lowercases INTO the token charset (e.g.
# Kelvin sign -> 'k'), so the fast path is gated on an all-ASCII batch check.


def _byte_luts():
    import numpy as np

    lower = np.arange(256, dtype=np.uint8)
    lower[ord("A"):ord("Z") + 1] += 32
    alnum = np.zeros(256, dtype=bool)
    alnum[ord("a"):ord("z") + 1] = True
    alnum[ord("0"):ord("9") + 1] = True
    return lower, alnum


_BYTE_LUTS = None


def _tokenize_ascii_bytes(strings):
    """Vectorized byte-level tokenizer for all-ASCII batches: lowercase +
    classify + boundary-find + compress are LUT/bandwidth passes over the
    raw UTF-8 buffer — no regex engine, no per-token object.

    Returns ``(doc_idx, codes, dictionary)`` (token stream dictionary-encoded
    by Arrow) or None when the batch contains non-ASCII bytes (caller falls
    back to the Unicode regex path).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    global _BYTE_LUTS
    if _BYTE_LUTS is None:
        _BYTE_LUTS = _byte_luts()
    lower_lut, alnum_lut = _BYTE_LUTS

    n = len(strings)
    bufs = strings.buffers()
    off_all = np.frombuffer(bufs[1], dtype=np.int32)
    off = off_all[strings.offset : strings.offset + n + 1].astype(np.int64)
    if strings.null_count:
        # The Arrow spec allows null slots to carry non-empty offset ranges
        # with arbitrary bytes; scanning those would fabricate tokens.
        # Spark-produced batches use empty ranges for nulls (zero extra
        # cost), but the public surface accepts arbitrary arrays — verify,
        # and punt to the regex path (which honours validity) otherwise.
        validity = np.unpackbits(
            np.frombuffer(bufs[0], dtype=np.uint8), bitorder="little"
        )[strings.offset : strings.offset + n].astype(bool)
        if (off[1:][~validity] != off[:-1][~validity]).any():
            return None
    data_all = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, dtype=np.uint8)
    )
    data = data_all[off[0] : off[-1]]
    if data.size and int(data.max()) >= 0x80:
        return None  # non-ASCII: Unicode lowering may differ — regex path
    lowered = lower_lut[data]
    mask = alnum_lut[lowered]
    d = np.diff(mask.view(np.int8), prepend=np.int8(0), append=np.int8(0))
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)
    # force token breaks at document boundaries: adjacent docs where one
    # ends and the next begins with token bytes would otherwise fuse
    bnd = (off - off[0])[1:-1]
    # unique: empty/null docs repeat their neighbour's offset, and a
    # duplicated crossing would fabricate a zero-length token
    bnd = np.unique(bnd[(bnd > 0) & (bnd < data.size)])
    if bnd.size:
        crossing = bnd[mask[bnd - 1] & mask[bnd]]
        if crossing.size:
            starts = np.sort(np.concatenate((starts, crossing)))
            ends = np.sort(np.concatenate((ends, crossing)))
    if not len(starts):
        return (
            np.zeros(0, dtype=np.int64),
            np.zeros(0, dtype=np.int64),
            pa.array([], type=pa.string()),
        )
    tok_lens = ends - starts
    tok_data = lowered[mask]
    tok_off = np.zeros(len(starts) + 1, dtype=np.int32)
    np.cumsum(tok_lens, out=tok_off[1:])
    tok_arr = pa.StringArray.from_buffers(
        len(starts),
        pa.py_buffer(tok_off.tobytes()),
        pa.py_buffer(tok_data.tobytes()),
    )
    doc_idx = np.searchsorted(off - off[0], starts, side="right") - 1
    denc = pc.dictionary_encode(tok_arr)
    return (
        doc_idx.astype(np.int64),
        denc.indices.to_numpy().astype(np.int64),
        denc.dictionary,
    )


def analyze_flat_arrow(strings, mode: str = "standard"):
    """Arrow-native flat analyzer: the index-build hot path.

    Same (term, tf) pairs in the same order and the same POST-filter
    ``doc_lens`` as :func:`analyze_batch` (property-tested), but
    tokenization and vocabulary building run as vectorized byte/LUT passes
    (all-ASCII batches — the hot case) or Arrow C++ kernels (Unicode
    fallback: utf8_lower + RE2 split) — NO per-token Python object is ever
    materialized (``str.findall`` pays one PyObject str per token; at
    millions of tokens per batch that allocation traffic is pure
    memory-bandwidth waste, the dominant shared-socket scaling cost).
    Python touches only vocabulary-sized data (the Porter stem map) and
    fixed-width numpy arrays; the (doc, term) grouping is a single radix
    sort on a composite int key.

    Input: a ``pyarrow`` StringArray (nulls allowed).  Returns
    ``(row_idx, dict_idx, dictionary, tfs, doc_lens)`` where ``dictionary``
    is a pyarrow StringArray and ``dict_idx`` indexes it per output
    (doc, distinct term) row, term-sorted within each doc, so
    ``pc.take(dictionary, dict_idx)`` is the term column.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if mode not in ("standard", "porter"):
        raise ValueError(f"unknown analyzer mode: {mode}")
    n = len(strings)
    empty_lens = np.zeros(n, dtype=np.int64)

    def _empty():
        z = np.zeros(0, dtype=np.int64)
        return z, z, pa.array([], type=pa.string()), z, empty_lens

    if n == 0:
        return _empty()
    if isinstance(strings, pa.ChunkedArray):
        strings = strings.combine_chunks()
    if strings.type != pa.string():
        strings = strings.cast(pa.string())

    tok = _tokenize_ascii_bytes(strings)
    if tok is not None:
        doc_idx, codes, dictionary = tok
        if not len(codes):
            return _empty()
    else:
        # Unicode fallback: split on the token-charset complement ==
        # findall('[a-z0-9]+') with empty tokens dropped below.  Arrow's
        # simple lowercase maps U+0130 to "i"; Python's str.lower() gives
        # "i" + U+0307 (a separator), so spell that out first.
        lowered = pc.utf8_lower(
            pc.replace_substring(strings, "\u0130", "i\u0307")
        )
        lists = pc.split_pattern_regex(lowered, pattern="[^a-z0-9]+")
        counts = pc.fill_null(pc.list_value_length(lists), 0)
        counts = counts.to_numpy().astype(np.int64)
        flat = pc.list_flatten(lists)
        if len(flat) == 0:
            return _empty()
        denc = pc.dictionary_encode(flat)
        codes = denc.indices.to_numpy().astype(np.int64)
        dictionary = denc.dictionary
        doc_idx = np.repeat(np.arange(n, dtype=np.int64), counts)
        # drop the empty token produced by leading/trailing separators
        empty_pos = np.flatnonzero(
            pc.equal(dictionary, "").to_numpy(zero_copy_only=False)
        )
        if len(empty_pos):
            keep = codes != empty_pos[0]
            codes, doc_idx = codes[keep], doc_idx[keep]
            if not len(codes):
                return _empty()

    if mode == "porter":
        uniq = dictionary.to_pylist()  # vocabulary-sized, not token-sized
        mapped = [
            None if (t == "" or t in STOPWORDS) else _stem_cached(t)
            for t in uniq
        ]
        keep_unique = np.fromiter(
            (m is not None for m in mapped), dtype=bool, count=len(mapped)
        )
        keep = keep_unique[codes]
        codes, doc_idx = codes[keep], doc_idx[keep]
        if not len(codes):
            return _empty()
        stems = np.asarray(
            [m if m is not None else "" for m in mapped], dtype=object
        )
        # re-encode over stems so distinct tokens sharing a root merge
        codes, stem_uniques = pd.factorize(stems[codes])
        codes = codes.astype(np.int64)
        dictionary = pa.array(stem_uniques, type=pa.string())

    # rank of each dictionary entry under lexicographic order (Arrow sorts
    # UTF-8 bytewise == code-point order == Python/numpy string order)
    sorter = pc.array_sort_indices(dictionary).to_numpy().astype(np.int64)
    rank = np.empty(len(dictionary), dtype=np.int64)
    rank[sorter] = np.arange(len(dictionary))
    # ONE radix sort on the composite (doc, term-rank) key, then RLE on the
    # sorted key itself (single gather; boundaries recover both components)
    v1 = np.int64(len(dictionary) + 1)
    comp = doc_idx * v1 + rank[codes]
    order = np.argsort(comp, kind="stable")
    cs = comp[order]
    new = np.concatenate(([True], cs[1:] != cs[:-1]))
    starts = np.flatnonzero(new)
    tfs = np.diff(np.concatenate((starts, [len(cs)])))
    keys = cs[starts]
    row_idx = keys // v1
    dict_idx = sorter[keys % v1]
    doc_lens = np.bincount(doc_idx, minlength=n).astype(np.int64)
    return row_idx, dict_idx, dictionary, tfs, doc_lens


_ANALYZE_SCHEMA = StructType(
    [
        StructField(
            "terms",
            ArrayType(
                StructType(
                    [
                        StructField("term", StringType()),
                        StructField("tf", IntegerType()),
                    ]
                )
            ),
        ),
        StructField("doc_len", IntegerType()),
    ]
)


def make_analyze_udf(mode: str = "standard"):
    """Vectorized analyzer: content -> struct<terms:array<struct<term,tf>>, doc_len>.

    Counting tf INSIDE the UDF (A8, SURVEY.md §2.4) avoids exploding raw token
    streams through a shuffle — at 10^12 docs the exploded token relation is
    ~10^14 rows; the per-doc (term, tf) relation is ~50x smaller.
    """

    @F.pandas_udf(_ANALYZE_SCHEMA)
    def _analyze(texts: pd.Series) -> pd.DataFrame:
        pairs, lens = analyze_batch(texts, mode)
        return pd.DataFrame(
            {
                "terms": [
                    [{"term": t, "tf": c} for t, c in row] for row in pairs
                ],
                "doc_len": lens,
            }
        )

    return _analyze

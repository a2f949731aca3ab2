"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality features, token counting, document fingerprinting.

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage-codegen); only language-ID uses a (vectorized) pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# ---------------------------------------------------------------------------
# Token counting (whitespace + analyzer regex)
# ---------------------------------------------------------------------------


def token_count(col: str) -> Column:
    """Whitespace token count — matches DuckDB
    len(regexp_extract_all(text, '\\S+'))."""
    return F.size(F.expr(f"regexp_extract_all({col}, '\\\\S+', 0)"))


def word_token_count(col: str) -> Column:
    """[a-z0-9]+ token count on lowercased text (the analyzer's notion)."""
    return F.size(F.expr(f"regexp_extract_all(lower({col}), '[a-z0-9]+', 0)"))


# ---------------------------------------------------------------------------
# Quality features (length / punctuation / stopword ratios)
# ---------------------------------------------------------------------------

_STOPWORD_SQL_LIST = (
    "'the','a','an','and','or','of','to','in','is','it','that','for'"
)


def quality_features(text_col: str = "text"):
    """Returns a list of named quality-feature Columns over `text_col`.

    Mirrors the length/punct/stopword heuistics a pretraining pipeline uses;
    every expression is SQL-expressible so DuckDB can oracle-check it.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    n_words = F.size(words)
    n_stop = F.size(
        F.expr(
            f"filter(regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0), "
            f"w -> w in ({_STOPWORD_SQL_LIST}))"
        )
    )
    n_punct = F.size(F.expr(f"regexp_extract_all({text_col}, '[.,;:!?]', 0)"))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "stopword_ratio": F.round(n_stop / F.greatest(n_words, F.lit(1)), 6),
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
        "mean_word_len": F.round(
            (n_chars - n_words + 1) / F.greatest(n_words, F.lit(1)), 6
        ),
    }


# ---------------------------------------------------------------------------
# Document fingerprinting
# ---------------------------------------------------------------------------


def fingerprint_md5(text_col: str = "text") -> Column:
    """Normalization-stable fingerprint: md5 of lowercased,
    whitespace-collapsed, trimmed text. SQL-oracle-able (X16 analogue —
    reference: backend/search/build_faiss_index.py:150)."""
    return F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    )


def _rolling_fp_ref(t: str | None, window: int) -> int:
    """Per-doc reference rule: non-ASCII fallback + kernel oracle."""
    import zlib

    import numpy as np

    B = np.uint64(1000003)
    MOD_MASK = np.uint64((1 << 61) - 1)
    toks = (t or "").lower().split()
    # crc32: deterministic across processes (python hash() is salted)
    hs = np.array([zlib.crc32(w.encode()) for w in toks], dtype=np.uint64)
    if len(hs) < window:
        return int(hs.sum() & MOD_MASK) if len(hs) else 0
    acc = np.zeros(len(hs) - window + 1, dtype=np.uint64)
    for j in range(window):
        acc = (acc * B + hs[j : j + len(acc)]) & MOD_MASK
    return int(acc.min())


def rolling_hash_fingerprint(text_col: str = "text", window: int = 8) -> Column:
    """Winnowing-style fingerprint: min of Rabin-Karp rolling hashes over
    `window`-grams of the normalized token stream.

    ASCII rows run through the vectorized kernel
    (:func:`.vechash.rolling_fingerprint_ascii`): crc32 once per
    vocabulary entry via the lockstep CRC, the window recurrence as
    `window` whole-stream passes, per-doc min via reduceat — no per-row
    Python.  Non-ASCII rows fall back row-wise to the bit-identical
    reference rule."""

    @F.pandas_udf("long")
    def _fp(texts: pd.Series) -> pd.Series:
        from clinical_trial_searchengine_spark.functions.vechash import (
            apply_ascii_vectorized,
            rolling_fingerprint_ascii,
        )

        return pd.Series(
            apply_ascii_vectorized(
                texts,
                lambda arr: rolling_fingerprint_ascii(arr, window),
                lambda t: _rolling_fp_ref(t, window),
            ),
            dtype="int64",
        )

    return _fp(F.col(text_col))


# ---------------------------------------------------------------------------
# Language identification (n-gram/stopword heuristic)
# ---------------------------------------------------------------------------

_LANG_PROFILES = {
    "en": {"the", "and", "of", "to", "in", "is", "that", "it", "for", "with"},
    "de": {"der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"},
    "es": {"el", "la", "de", "que", "y", "en", "un", "por", "con", "los"},
    "fr": {"le", "la", "de", "et", "les", "des", "est", "un", "une", "que"},
    "it": {"il", "di", "che", "la", "per", "con", "una", "sono", "non", "gli"},
}


def _lang_id_ref(t: str | None) -> str:
    """Per-doc reference rule: non-ASCII fallback + kernel oracle."""
    words = set((t or "").lower().split()[:200])
    best, best_n = "und", 0
    for lang in sorted(_LANG_PROFILES):
        n = len(words & _LANG_PROFILES[lang])
        if n > best_n:
            best, best_n = lang, n
    return best


def lang_id(text_col: str = "text") -> Column:
    """Heuristic language ID: argmax of stopword-profile hit ratio; 'und'
    (undetermined) when nothing matches.

    ASCII rows run through the vectorized kernel
    (:func:`.vechash.lang_id_ascii`): split + dictionary-encode as
    Arrow-buffer passes, profile membership once per vocabulary entry,
    per-(doc, lang) hits via bincount — no per-row Python.  Non-ASCII
    rows fall back row-wise to the identical reference rule."""

    @F.pandas_udf(StringType())
    def _lid(texts: pd.Series) -> pd.Series:
        from clinical_trial_searchengine_spark.functions.vechash import (
            apply_ascii_vectorized,
            lang_id_ascii,
        )

        return pd.Series(
            apply_ascii_vectorized(
                texts,
                lambda arr: lang_id_ascii(arr, _LANG_PROFILES),
                _lang_id_ref,
            )
        )

    return _lid(F.col(text_col))

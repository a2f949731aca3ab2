"""Property-based tests (hypothesis) for the pure-Python kernels — the
improvement over the reference's test strategy promised in SURVEY.md §5.2:
randomized inputs instead of fixtures for codec round-trips and analyzer
equivalence."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from clinical_trial_searchengine_spark.functions.analysis import (
    analyze_batch,
    analyze_flat_arrow,
    tokenize_text,
)
from clinical_trial_searchengine_spark.functions.codec import (
    decode_blocks,
    decode_directory,
    decode_postings,
    encode_postings,
    encode_postings_group,
    varint_decode,
    varint_encode,
)

_SETTINGS = dict(max_examples=60, deadline=None)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(**_SETTINGS)
def test_varint_roundtrip(vals):
    arr = np.asarray(vals, dtype=np.uint64)
    out = varint_decode(varint_encode(arr))
    assert (out == arr).all()


_postings = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**12),
        st.integers(min_value=1, max_value=10**6),
    ),
    min_size=1,
    max_size=400,
    unique_by=lambda t: t[0],
)


@given(_postings)
@settings(**_SETTINGS)
def test_postings_roundtrip_and_directory(pairs):
    pairs.sort()
    ids = np.asarray([p[0] for p in pairs], dtype=np.uint64)
    tfs = np.asarray([p[1] for p in pairs], dtype=np.uint64)
    buf, n_blocks = encode_postings(ids, tfs)
    d_ids, d_tfs = decode_postings(buf)
    assert (d_ids == ids).all() and (d_tfs == tfs.astype(np.int64)).all()
    # directory-driven selective decode == full decode
    n, firsts, max_tfs, nbytes, offsets = decode_directory(buf)
    assert n == len(ids) and len(firsts) == n_blocks
    got_ids, got_tfs = [], []
    for b in range(n_blocks):
        bi, bt = decode_blocks(buf, [b], n, firsts, nbytes, offsets)
        got_ids.append(bi)
        got_tfs.append(bt)
        lo = b * 128
        assert max_tfs[b] == tfs[lo : lo + 128].max()
    assert (np.concatenate(got_ids) == ids).all()
    assert (np.concatenate(got_tfs) == tfs.astype(np.int64)).all()


@given(st.lists(_postings, min_size=1, max_size=8))
@settings(max_examples=30, deadline=None)
def test_group_encode_equals_per_term(groups):
    ids_parts, tf_parts, bounds = [], [], [0]
    for pairs in groups:
        pairs.sort()
        ids_parts.append(np.asarray([p[0] for p in pairs], dtype=np.uint64))
        tf_parts.append(np.asarray([p[1] for p in pairs], dtype=np.uint64))
        bounds.append(bounds[-1] + len(pairs))
    ids = np.concatenate(ids_parts)
    tfs = np.concatenate(tf_parts)
    outs, nb = encode_postings_group(ids, tfs, np.asarray(bounds))
    for t in range(len(groups)):
        lo, hi = bounds[t], bounds[t + 1]
        ref, ref_nb = encode_postings(ids[lo:hi], tfs[lo:hi])
        assert outs[t] == ref and nb[t] == ref_nb


_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(max_size=200),
        st.text(
            alphabet=st.sampled_from("abc 019 .,-_é\n\tXYZ"), max_size=300
        ),
    ),
    min_size=1,
    max_size=20,
)


def _arrow_rows(arr, mode):
    """analyze_flat_arrow's output as analyze_batch's shape: per-doc
    ``[(term, tf), ...]`` lists plus ``doc_lens``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ri, dix, dic, tfs, dl = analyze_flat_arrow(arr, mode)
    terms = pc.take(dic, pa.array(dix)).to_pylist()
    rebuilt = [[] for _ in range(len(arr))]
    for i, t, c in zip(ri, terms, tfs):
        rebuilt[i].append((t, int(c)))
    return rebuilt, list(dl)


@given(_texts, st.sampled_from(["standard", "porter"]))
@settings(**_SETTINGS)
# the non-ASCII code points whose Python lowercase holds a token char:
# U+0130 lowers to "i" + a combining dot, the Kelvin sign to "k"
@example(["\u0130x foo"], "standard")
@example(["a\u0130n"], "standard")
@example(["x\u212ay"], "standard")
@example(["\u0130x foo"], "porter")
@example(["a\u0130n"], "porter")
@example(["x\u212ay"], "porter")
def test_analyze_flat_arrow_equals_batch(texts, mode):
    """The build's Arrow-native analyzer gives the oracle kernel's
    (term, tf) pairs per doc, in the same order, and the same doc_lens — so
    the build tokenize stage cannot change any BM25 score."""
    import pyarrow as pa

    pairs, lens = analyze_batch(pd.Series(texts, dtype=object), mode)
    rebuilt, dl = _arrow_rows(pa.array(texts, type=pa.string()), mode)
    assert rebuilt == pairs
    assert dl == lens


@given(st.lists(st.text(max_size=120), min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_analyze_flat_arrow_sliced_input(texts):
    """Offset-carrying (sliced) Arrow arrays hit the zero-copy buffer math
    directly — the case a mapInArrow batch boundary produces."""
    import pyarrow as pa

    arr = pa.array(["PAD one", *texts], type=pa.string()).slice(1)
    pairs, lens = analyze_batch(pd.Series(texts, dtype=object), "standard")
    rebuilt, dl = _arrow_rows(arr, "standard")
    assert rebuilt == pairs
    assert dl == lens


@given(st.text(max_size=300))
@settings(**_SETTINGS)
def test_tokenize_invariants(text):
    std = tokenize_text(text, "standard")
    assert all(t == t.lower() and t for t in std)
    porter = tokenize_text(text, "porter")
    # stopword filtering only removes tokens (a stem may still equal a
    # stopword string, e.g. 'thes' -> 'the', so no membership assertion)
    assert len(porter) <= len(std)
    # determinism
    assert tokenize_text(text, "porter") == porter


@given(_postings, st.sets(st.integers(min_value=0, max_value=50), max_size=8))
@settings(**_SETTINGS)
def test_decode_blocks_subset(pairs, idx_seed):
    """decode_blocks over any ascending index subset == the corresponding
    slices of the full decode."""
    from clinical_trial_searchengine_spark.functions.codec import (
        BLOCK_SIZE,
        decode_blocks,
    )

    pairs.sort()
    ids = np.asarray([p[0] for p in pairs], dtype=np.uint64)
    tfs = np.asarray([p[1] for p in pairs], dtype=np.uint64)
    buf, n_blocks = encode_postings(ids, tfs)
    n, firsts, max_tfs, nbytes, offsets = decode_directory(buf)
    idxs = sorted(i % max(n_blocks, 1) for i in idx_seed) if n_blocks else []
    idxs = sorted(set(idxs))
    got_ids, got_tfs = decode_blocks(buf, idxs, n, firsts, nbytes, offsets)
    exp_ids, exp_tfs = [], []
    for i in idxs:
        lo, hi = i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, n)
        exp_ids.append(ids[lo:hi])
        exp_tfs.append(tfs[lo:hi].astype(np.int64))
    if idxs:
        assert (got_ids == np.concatenate(exp_ids)).all()
        assert (got_tfs == np.concatenate(exp_tfs)).all()
    else:
        assert got_ids.size == 0 and got_tfs.size == 0


# ---------------------------------------------------------------------------
# vechash batch kernels == per-doc reference loops (round 5)
# ---------------------------------------------------------------------------

_text = st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("L", "N", "P", "Z", "C")
    ),
    max_size=400,
)


@given(st.lists(st.one_of(_text, st.none()), max_size=40))
@settings(max_examples=40, deadline=None)
def test_vechash_kernels_match_refs_on_arbitrary_unicode(texts):
    """Random unicode (including non-ASCII -> per-row fallback, and the
    mixed batches that split vectorized/fallback) must keep every batch
    kernel bit-identical to its reference loop."""
    import pandas as pd

    from clinical_trial_searchengine_spark.functions import vechash as V
    from clinical_trial_searchengine_spark.functions.text import (
        _LANG_PROFILES,
        _lang_id_ref,
        _rolling_fp_ref,
    )
    from clinical_trial_searchengine_spark.operators.dedup import (
        _minhash_signature_ref,
        _perm_params,
        _simhash_ref,
    )

    s = pd.Series(texts, dtype="object")
    a, b = _perm_params(16)
    mh = V.apply_ascii_vectorized(
        s, lambda arr: V.minhash_signatures_ascii(arr, a, b, 3),
        lambda t: _minhash_signature_ref(t, a, b, 3),
    )
    sh = V.apply_ascii_vectorized(
        s, lambda arr: V.simhash_ascii(arr, {}), _simhash_ref
    )
    lid = V.apply_ascii_vectorized(
        s, lambda arr: V.lang_id_ascii(arr, _LANG_PROFILES), _lang_id_ref
    )
    fp = V.apply_ascii_vectorized(
        s, lambda arr: V.rolling_fingerprint_ascii(arr, 8),
        lambda t: _rolling_fp_ref(t, 8),
    )
    for i, t in enumerate(texts):
        assert list(mh[i]) == _minhash_signature_ref(t, a, b, 3), i
        assert int(sh[i]) == _simhash_ref(t), i
        assert lid[i] == _lang_id_ref(t), i
        assert int(fp[i]) == _rolling_fp_ref(t, 8), i

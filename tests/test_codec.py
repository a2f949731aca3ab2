"""Varint/delta posting codec round-trip + block directory tests
(FIXTURES.md §6), including hypothesis property tests."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from clinical_trial_searchengine_spark.functions.codec import (
    BLOCK_SIZE,
    decode_blocks,
    decode_directory,
    decode_postings,
    encode_postings,
    varint_decode,
    varint_decode_prefix,
    varint_encode,
)


def test_varint_roundtrip_edges():
    vals = np.array(
        [0, 1, 127, 128, 129, 2**14 - 1, 2**14, 2**28, 2**28 + 1, 2**40, 2**63],
        dtype=np.uint64,
    )
    assert np.array_equal(varint_decode(varint_encode(vals)), vals)
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_prefix():
    vals = np.array([300, 5, 2**30], dtype=np.uint64)
    buf = varint_encode(vals) + b"\x07"
    out, off = varint_decode_prefix(buf, 3)
    assert out == [300, 5, 2**30]
    assert buf[off] == 7


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 10**6), st.integers(1, 1000)),
        min_size=0,
        max_size=700,
    )
)
def test_postings_roundtrip_property(gaps_tfs):
    if gaps_tfs:
        gaps = np.array([g for g, _ in gaps_tfs], dtype=np.uint64)
        ids = np.cumsum(gaps)
        tfs = np.array([t for _, t in gaps_tfs], dtype=np.uint64)
    else:
        ids = np.empty(0, dtype=np.uint64)
        tfs = np.empty(0, dtype=np.uint64)
    buf, n_blocks = encode_postings(ids, tfs)
    d, t = decode_postings(buf)
    assert np.array_equal(d, ids)
    assert np.array_equal(t, tfs.astype(np.int64))
    assert n_blocks == (len(ids) + BLOCK_SIZE - 1) // BLOCK_SIZE


def test_block_directory_and_selective_decode():
    rng = np.random.default_rng(7)
    n = 1000
    ids = np.cumsum(rng.integers(1, 50, n).astype(np.uint64))
    tfs = rng.integers(1, 30, n).astype(np.uint64)
    buf, n_blocks = encode_postings(ids, tfs)
    N, firsts, max_tfs, nbytes, offsets = decode_directory(buf)
    assert N == n and len(firsts) == n_blocks
    for b in range(n_blocks):
        lo, hi = b * BLOCK_SIZE, min((b + 1) * BLOCK_SIZE, n)
        assert firsts[b] == ids[lo]
        assert max_tfs[b] == tfs[lo:hi].max()
        db, tb = decode_blocks(buf, [b], N, firsts, nbytes, offsets)
        assert np.array_equal(db, ids[lo:hi])
        assert np.array_equal(tb, tfs[lo:hi].astype(np.int64))


def test_huge_gaps():
    ids = np.array([5, 2**40, 2**62], dtype=np.uint64)
    tfs = np.array([1, 2, 3], dtype=np.uint64)
    buf, _ = encode_postings(ids, tfs)
    d, t = decode_postings(buf)
    assert np.array_equal(d, ids) and list(t) == [1, 2, 3]


def test_encode_postings_group_byte_identical():
    """Batch group encoder == per-term encoder, byte for byte (the group
    wire format is one self-delimiting varint stream)."""
    import numpy as np

    from clinical_trial_searchengine_spark.functions.codec import (
        decode_postings,
        encode_postings,
        encode_postings_group,
    )

    rng = np.random.default_rng(7)
    for _ in range(10):
        T = int(rng.integers(1, 30))
        bounds, ids, tfs = [0], [], []
        for _t in range(T):
            nt = int(rng.choice([1, 2, 127, 128, 129, 500]))
            d = np.sort(rng.choice(100_000, size=nt, replace=False))
            ids.append(d.astype(np.uint64))
            tfs.append(rng.integers(1, 300, nt).astype(np.uint64))
            bounds.append(bounds[-1] + nt)
        ids = np.concatenate(ids)
        tf = np.concatenate(tfs)
        outs, nb = encode_postings_group(ids, tf, np.asarray(bounds))
        for t in range(T):
            lo, hi = bounds[t], bounds[t + 1]
            ref, ref_nb = encode_postings(ids[lo:hi], tf[lo:hi])
            assert outs[t] == ref and nb[t] == ref_nb
            d2, t2 = decode_postings(outs[t])
            assert (d2 == ids[lo:hi]).all()
            assert (t2 == tf[lo:hi].astype(np.int64)).all()


def test_decode_postings_group_equals_per_buffer():
    """The group decoder == per-buffer decode_postings on varint, pfor and
    mixed-version groups, empty lists, df=1 and block-boundary lengths
    (including exception-patched pfor frames and huge gaps), and on an
    empty input."""
    from clinical_trial_searchengine_spark.functions.codec import (
        decode_postings_group,
    )

    rng = np.random.default_rng(11)
    lengths = [0, 1, 2, BLOCK_SIZE - 1, BLOCK_SIZE, BLOCK_SIZE + 1,
               2 * BLOCK_SIZE, 2 * BLOCK_SIZE + 1, 1000]

    def buf(n, codec):
        ids = np.sort(rng.choice(1 << 40, size=n, replace=False))
        tfs = rng.integers(1, 40, n)
        tfs[::13] = 1 << 33  # wider than any frame: pfor exceptions
        return encode_postings(ids.astype(np.uint64), tfs.astype(np.uint64),
                               codec=codec)[0]

    varint = [buf(n, "varint") for n in lengths]
    pfor = [buf(n, "pfor") for n in lengths]
    mixed = varint + pfor
    rng.shuffle(mixed)
    for group in (varint, pfor, mixed, [pfor[1]] * 5, [varint[0]], []):
        ids, tfs, bounds = decode_postings_group(group)
        assert bounds.tolist()[:1] == [0] and len(bounds) == len(group) + 1
        assert ids.dtype == np.uint64 and tfs.dtype == np.int64
        for i, b in enumerate(group):
            ref_ids, ref_tfs = decode_postings(b)
            assert np.array_equal(ids[bounds[i]:bounds[i + 1]], ref_ids)
            assert np.array_equal(tfs[bounds[i]:bounds[i + 1]], ref_tfs)
        assert bounds[-1] == ids.size == tfs.size


def test_merge_runs_kernel_spans_batches():
    """Direct (no-Spark) test of the write-pass merge kernel: a salted run
    split across two Arrow batches must be carried and merged exactly as
    a single-batch run, pass-through rows must keep their order, and the
    merged blob must be byte-identical to encoding the concatenation."""
    import pyarrow as pa

    from clinical_trial_searchengine_spark.functions.codec import (
        decode_postings,
        encode_postings,
    )
    from clinical_trial_searchengine_spark.plans.build import (
        _make_merge_runs_kernel,
    )

    def enc(ids, tfs):
        buf, nb = encode_postings(
            np.asarray(ids, np.int64), np.asarray(tfs, np.uint64)
        )
        return buf, nb

    # salted run "hot" split 3 ways; salts arrive in order; run crosses the
    # batch boundary between salt=1 and salt=2
    h0, nb0 = enc([0, 2], [1, 2])
    h1, nb1 = enc([10, 11], [3, 1])
    h2, nb2 = enc([20], [5])
    a0, na0 = enc([1, 5], [1, 1])
    b0, nb_b = enc([7], [9])

    def row(shard, term, salt, npost, cf, nb, buf):
        return (shard, term, salt, npost, cf, nb, buf)

    cols = ["shard", "term", "salt", "n_postings", "cf_local", "n_blocks",
            "postings"]

    def batch(rows):
        arrays = list(zip(*rows))
        return pa.record_batch(
            [
                pa.array(arrays[0], pa.int32()),
                pa.array(arrays[1], pa.string()),
                pa.array(arrays[2], pa.int32()),
                pa.array(arrays[3], pa.int64()),
                pa.array(arrays[4], pa.int64()),
                pa.array(arrays[5], pa.int32()),
                pa.array(arrays[6], pa.binary()),
            ],
            names=cols,
        )

    b1 = batch([
        row(0, "aaa", 0, 2, 2, na0, a0),
        row(0, "hot", 0, 2, 3, nb0, h0),
        row(0, "hot", 1, 2, 4, nb1, h1),
    ])
    b2 = batch([
        row(0, "hot", 2, 1, 5, nb2, h2),
        row(0, "zzz", 0, 1, 9, nb_b, b0),
    ])

    kernel = _make_merge_runs_kernel()
    out = pa.Table.from_batches(list(kernel(iter([b1, b2]))))
    got = out.to_pylist()
    assert [r["term"] for r in got] == ["aaa", "hot", "zzz"]
    hot = got[1]
    assert hot["n_postings"] == 5 and hot["cf_local"] == 12
    exp_buf, exp_nb = enc([0, 2, 10, 11, 20], [1, 2, 3, 1, 5])
    assert bytes(hot["postings"]) == exp_buf and hot["n_blocks"] == exp_nb
    ids, tfs = decode_postings(bytes(hot["postings"]))
    assert list(ids) == [0, 2, 10, 11, 20] and list(tfs) == [1, 2, 3, 1, 5]
    # pass-through rows byte-identical
    assert bytes(got[0]["postings"]) == a0
    assert bytes(got[2]["postings"]) == b0

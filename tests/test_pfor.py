"""PForDelta codec (wire v2) tests: round-trip, patched-exception edges,
group == per-term byte identity, selective decode via the SHARED block
directory, and mixed-version dispatch (FIXTURES.md §6; the "PFD" half of
the north rule's "varint/PForDelta-compressed" postings)."""

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
    encode_postings_group,
)
from clinical_trial_searchengine_spark.functions.pfor import (
    encode_postings_group_pfor,
    encode_postings_pfor,
)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 10**6), st.integers(1, 1000)),
        min_size=0,
        max_size=700,
    )
)
def test_pfor_roundtrip_property(gaps_tfs):
    if gaps_tfs:
        gaps = np.array([g for g, _ in gaps_tfs], dtype=np.uint64)
        ids = np.cumsum(gaps)
        tfs = np.array([t for _, t in gaps_tfs], dtype=np.uint64)
    else:
        ids = np.empty(0, dtype=np.uint64)
        tfs = np.empty(0, dtype=np.uint64)
    buf, n_blocks = encode_postings(ids, tfs, codec="pfor")
    d, t = decode_postings(buf)  # version-dispatched
    assert np.array_equal(d, ids)
    assert np.array_equal(t, tfs.astype(np.int64))
    assert n_blocks == (len(ids) + BLOCK_SIZE - 1) // BLOCK_SIZE


def test_pfor_exception_edges():
    """Wide outliers among tiny values force the patched path: small frame
    width, outliers carried as (position, overflow) exceptions."""
    gaps = np.ones(300, dtype=np.uint64)
    gaps[[0, 7, 131, 299]] = [1, 2**40, 2**33, 2**50]  # >32-bit outliers
    ids = np.cumsum(gaps).astype(np.uint64)
    tfs = np.ones(300, dtype=np.uint64)
    tfs[[3, 128]] = [2**20, 2**45]
    buf, _ = encode_postings_pfor(ids, tfs)
    d, t = decode_postings(buf)
    assert np.array_equal(d, ids)
    assert np.array_equal(t, tfs.astype(np.int64))


def test_pfor_all_values_wide():
    """Every value wider than the 32-bit frame cap: whole block patched."""
    ids = (np.arange(1, 10, dtype=np.uint64) * np.uint64(2**40))
    tfs = np.full(9, 2**34, dtype=np.uint64)
    buf, _ = encode_postings_pfor(ids, tfs)
    d, t = decode_postings(buf)
    assert np.array_equal(d, ids)
    assert np.array_equal(t.astype(np.uint64), tfs)


def test_pfor_group_byte_identical_to_single():
    rng = np.random.default_rng(11)
    sizes = rng.integers(1, 5 * BLOCK_SIZE, 40)
    bounds = np.concatenate(([0], np.cumsum(sizes))).astype(np.int64)
    per_term = []
    for s in sizes:
        g = rng.integers(1, 1 << int(rng.integers(1, 34)), s).astype(
            np.uint64
        )
        per_term.append(
            (np.cumsum(g).astype(np.uint64),
             rng.integers(1, 5000, s).astype(np.uint64))
        )
    ids_c = np.concatenate([i for i, _ in per_term])
    tfs_c = np.concatenate([t for _, t in per_term])
    bufs, n_blocks = encode_postings_group_pfor(ids_c, tfs_c, bounds)
    bufs2, n_blocks2 = encode_postings_group(
        ids_c, tfs_c, bounds, codec="pfor"
    )  # dispatch twin
    assert bufs == bufs2 and np.array_equal(n_blocks, n_blocks2)
    for i, (ids, tfs) in enumerate(per_term):
        b1, k1 = encode_postings_pfor(ids, tfs)
        assert bufs[i] == b1
        assert n_blocks[i] == k1
        d, t = decode_postings(bufs[i])
        assert np.array_equal(d, ids)
        assert np.array_equal(t.astype(np.uint64), tfs)


def test_pfor_selective_decode_shared_directory():
    """decode_directory + decode_blocks work unchanged on a
    v2 buffer (shared header/directory wire layout — WAND's skip logic is
    codec-agnostic)."""
    rng = np.random.default_rng(5)
    n = 1000
    gaps = rng.integers(1, 300, n).astype(np.uint64)
    gaps[500] = 2**35
    ids = np.cumsum(gaps).astype(np.uint64)
    tfs = np.minimum(rng.zipf(1.4, n), 10**7).astype(np.uint64)
    buf, nb = encode_postings_pfor(ids, tfs)
    n_dec, firsts, max_tfs, nbytes, offsets = decode_directory(buf)
    assert n_dec == n and len(firsts) == nb
    # directory semantics identical to v1
    assert np.array_equal(
        firsts, ids[np.arange(0, n, BLOCK_SIZE)].astype(np.uint64)
    )
    assert np.array_equal(
        max_tfs,
        np.maximum.reduceat(tfs, np.arange(0, n, BLOCK_SIZE)).astype(
            np.int64
        ),
    )
    picks = [0, 3, nb - 1]
    d, t = decode_blocks(buf, picks, n, firsts, nbytes, offsets)
    rows = np.concatenate(
        [np.arange(i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, n))
         for i in picks]
    )
    assert np.array_equal(d, ids[rows])
    assert np.array_equal(t, tfs[rows].astype(np.int64))
    d1, t1 = decode_blocks(buf, [3], n, firsts, nbytes, offsets)
    assert np.array_equal(d1, ids[384:512])
    assert np.array_equal(t1, tfs[384:512].astype(np.int64))


def test_pfor_smaller_than_varint_on_dense_lists():
    """On a dense hot-term list (small gaps, small tfs) the bit-packed
    frames beat byte-granular varint."""
    rng = np.random.default_rng(2)
    n = 50_000
    gaps = rng.integers(1, 30, n).astype(np.uint64)
    ids = np.cumsum(gaps).astype(np.uint64)
    tfs = rng.integers(1, 6, n).astype(np.uint64)
    bv, _ = encode_postings(ids, tfs)
    bp, _ = encode_postings(ids, tfs, codec="pfor")
    assert len(bp) < len(bv)
    for buf in (bv, bp):
        d, t = decode_postings(buf)
        assert np.array_equal(d, ids)
        assert np.array_equal(t, tfs.astype(np.int64))


def test_pfor_index_rank_identical_and_inherited(
    spark, small_corpus_df, built_index, tmp_path_factory
):
    """Full-stack cross-codec identity: an explicitly varint-coded index
    returns EXACTLY the default (pfor) index's ranked (doc_id, score) rows
    on the reference query set — through both the exhaustive and the
    block-skipping pruned kernels (selective decode exercises the shared
    directory) — and an incremental append inherits its codec from
    meta.json."""
    import shutil

    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.plans import segments as seg
    from clinical_trial_searchengine_spark.sources.corpus import (
        reference_queries,
    )
    from clinical_trial_searchengine_spark.streaming.incremental import (
        incremental_index,
    )

    assert seg.read_meta(built_index.index_dir)["postings_codec"] == "pfor"
    d = str(tmp_path_factory.mktemp("idx_varint") / "standard")
    try:
        eng = SearchEngine(spark, d)
        meta = eng.build(
            small_corpus_df,
            mode="standard",
            shard_size=48,
            hot_df_threshold=40,
            max_salts=4,
            n_resume_groups=2,
            norm_chunk=16,
            postings_codec="varint",
        )
        assert meta["postings_codec"] == "varint"
        assert seg.read_meta(d)["postings_codec"] == "varint"
        for q in reference_queries():
            exp = built_index.search_topk_rows(q["text"], q["k"])
            got = eng.search_topk_rows(q["text"], q["k"])
            assert exp == got, q["query_id"]
            got_pruned = eng.search_topk_rows(
                q["text"], q["k"], kernel="pruned"
            )
            assert exp == got_pruned, q["query_id"] + "/pruned"
        # postings parquet is smaller under pfor (bit-packed frames):
        # the default-codec fixture index beats this varint twin
        import glob
        import os

        def _psize(idx_dir):
            return sum(
                os.path.getsize(p)
                for p in glob.glob(
                    os.path.join(idx_dir, "postings", "**", "*.parquet"),
                    recursive=True,
                )
            )

        assert _psize(built_index.index_dir) < _psize(d)
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # incremental append inherits the BASE meta's codec (varint here —
    # deliberately the non-default, so inheritance is distinguishable
    # from the build default)
    d2 = str(tmp_path_factory.mktemp("idx_varint_inc") / "inc")
    try:
        pdf = small_corpus_df.toPandas()
        part = spark.createDataFrame(pdf.iloc[:150])
        incremental_index(
            spark, part, d2, shard_size=48, postings_codec="varint"
        )
        full = spark.createDataFrame(pdf)
        incremental_index(spark, full, d2, shard_size=48)
        gen_meta = seg.read_meta(seg.gen_dir(d2, 1))
        assert gen_meta["postings_codec"] == "varint"
        eng2 = SearchEngine(spark, d2)
        for q in reference_queries()[:5]:
            # doc_ids are assigned per-generation here, so equal-score ties
            # may order differently than the full build; the SCORE sequence
            # is exact-stats-identical and must match bit-for-bit
            exp = [s for _, s in built_index.search_topk_rows(q["text"], q["k"])]
            got = [s for _, s in eng2.search_topk_rows(q["text"], q["k"])]
            assert exp == got, q["query_id"]
    finally:
        shutil.rmtree(d2, ignore_errors=True)


def test_transcode_postings_roundtrip(
    spark, small_corpus_df, built_index, tmp_path_factory
):
    """Codec migration without rebuild: varint -> pfor -> varint.

    Checks: identical search results at every step (queries work
    mid-migration because decode version-dispatches), meta.json tracks the
    codec, pfor postings are smaller, and the final varint re-encode is
    ROW-LEVEL BYTE-IDENTICAL to the original buffers (the wire format is
    deterministic, so decode->encode is lossless).  Also covers delta
    generations: the transcode walks base + gen=K dirs."""
    import shutil

    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.plans import segments as seg
    from clinical_trial_searchengine_spark.sources.corpus import (
        reference_queries,
    )

    d = str(tmp_path_factory.mktemp("idx_transcode") / "inc")
    try:
        pdf = small_corpus_df.toPandas()
        eng = SearchEngine(spark, d)
        eng.add_documents(
            spark.createDataFrame(pdf.iloc[:150]),
            shard_size=48,
            postings_codec="varint",
        )
        eng.add_documents(spark.createDataFrame(pdf), shard_size=48)

        def _rows(root):
            return (
                spark.read.parquet(seg.path_of(root, seg.POSTINGS))
                .select("group", "shard", "term", "n_postings", "postings")
                .toPandas()
                .sort_values(["group", "shard", "term"])
                .reset_index(drop=True)
            )

        before = {q["query_id"]: eng.search_topk_rows(q["text"], q["k"])
                  for q in reference_queries()[:6]}
        orig_base = _rows(d)
        orig_gen1 = _rows(seg.gen_dir(d, 1))

        out = eng.transcode("pfor")
        assert out["codec"] == "pfor" and out["dirs"] == 2
        assert seg.read_meta(d)["postings_codec"] == "pfor"
        assert seg.read_meta(seg.gen_dir(d, 1))["postings_codec"] == "pfor"
        for qid, exp in before.items():
            assert eng.search_topk_rows(
                [q for q in reference_queries() if q["query_id"] == qid][0]
                ["text"], 10
            ) is not None  # smoke: serves mid-migration state
        mid = {q["query_id"]: eng.search_topk_rows(q["text"], q["k"])
               for q in reference_queries()[:6]}
        assert mid == before
        # bit-packed frames win on DENSE lists; tail singleton lists pay
        # the fixed 6-byte subheader (this 200-doc fixture is nearly all
        # singletons, so compare the dense subset, not the whole table)
        pfor_base = _rows(d)
        dense_o = orig_base[orig_base["n_postings"] >= 32]
        dense_p = pfor_base[pfor_base["n_postings"] >= 32]
        assert len(dense_o) > 0
        assert dense_p["postings"].map(len).sum() < (
            dense_o["postings"].map(len).sum()
        )

        eng.transcode("varint")
        back = {q["query_id"]: eng.search_topk_rows(q["text"], q["k"])
                for q in reference_queries()[:6]}
        assert back == before
        for orig, root in ((orig_base, d), (orig_gen1, seg.gen_dir(d, 1))):
            got = _rows(root)
            assert len(got) == len(orig)
            assert (got["term"].to_numpy() == orig["term"].to_numpy()).all()
            assert all(
                bytes(a) == bytes(b)
                for a, b in zip(got["postings"], orig["postings"])
            )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_unknown_codec_raises_everywhere(spark, small_corpus_df, tmp_path):
    """A codec typo raises ValueError naming the three codecs in both
    encoders, in build_index before anything is written, and in
    transcode_postings — never a silent varint fallback."""
    import os

    import pytest

    from clinical_trial_searchengine_spark.plans.build import build_index
    from clinical_trial_searchengine_spark.plans.segments import (
        transcode_postings,
    )

    ids = np.array([3, 9, 40], dtype=np.uint64)
    tfs = np.array([1, 2, 1], dtype=np.uint64)
    msg = "varint, pfor, adaptive"
    with pytest.raises(ValueError, match=msg):
        encode_postings(ids, tfs, codec="pfro")
    with pytest.raises(ValueError, match=msg):
        encode_postings_group(ids, tfs, np.array([0, 3]), codec="pfro")
    d = str(tmp_path / "typo")
    with pytest.raises(ValueError, match=msg):
        build_index(spark, small_corpus_df, d, postings_codec="pfro")
    assert not os.path.exists(os.path.join(d, "meta.json"))
    assert not os.path.exists(d)
    with pytest.raises(ValueError, match=msg):
        transcode_postings(spark, d, "pfro")


def test_adaptive_codec_routes_per_term():
    """codec="adaptive": terms below ADAPTIVE_PFOR_MIN stay varint (v1),
    others get pfor frames (v2); group output is byte-identical to
    per-term adaptive encodes and decodes transparently."""
    from clinical_trial_searchengine_spark.functions.codec import (
        ADAPTIVE_PFOR_MIN,
    )

    rng = np.random.default_rng(9)
    sizes = np.concatenate(
        [rng.integers(1, ADAPTIVE_PFOR_MIN, 30),
         rng.integers(ADAPTIVE_PFOR_MIN, 900, 20)]
    )
    rng.shuffle(sizes)
    bounds = np.concatenate(([0], np.cumsum(sizes))).astype(np.int64)
    ids_l, tfs_l = [], []
    for s in sizes:
        g = rng.integers(1, 500, s).astype(np.uint64)
        ids_l.append(np.cumsum(g).astype(np.uint64))
        tfs_l.append(rng.integers(1, 40, s).astype(np.uint64))
    ids = np.concatenate(ids_l)
    tfs = np.concatenate(tfs_l)
    bufs, nb = encode_postings_group(ids, tfs, bounds, codec="adaptive")
    for i, s in enumerate(sizes):
        b1, k1 = encode_postings(ids_l[i], tfs_l[i], codec="adaptive")
        assert bufs[i] == b1 and nb[i] == k1, i
        expect_version = 2 if s >= ADAPTIVE_PFOR_MIN else 1
        assert (bufs[i][0] & 0x7F) == expect_version, (i, s)
        d, t = decode_postings(bufs[i])
        assert np.array_equal(d, ids_l[i])
        assert np.array_equal(t.astype(np.uint64), tfs_l[i])
    # all-one-side routing degenerates to the pure codecs
    few = np.array([1, 2, 3], dtype=np.int64)
    b_small, _ = encode_postings_group(
        ids_l[0][:3], tfs_l[0][:3], np.array([0, 3]), codec="adaptive"
    )
    assert (b_small[0][0] & 0x7F) == 1

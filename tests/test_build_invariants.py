"""Build invariants: sha256 check, deterministic doc_id assignment,
salting equivalence, segment schemas, resume (FIXTURES.md §4-6)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from clinical_trial_searchengine_spark.engine import SearchEngine
from clinical_trial_searchengine_spark.plans import segments as seg
from clinical_trial_searchengine_spark.plans.build import assign_doc_ids


def test_sha256_invariant_rejects_corruption(spark, small_corpus_pdf, tmp_path):
    bad = small_corpus_pdf.copy()
    bad.loc[3, "content"] = bad.loc[3, "content"] + " tampered"
    df = spark.createDataFrame(bad)
    eng = SearchEngine(spark, str(tmp_path / "badidx"))
    with pytest.raises(ValueError, match="sha256 invariant"):
        eng.build(df, shard_size=64)
    # failure is recorded in lineage
    m = seg.manifest_read(spark, eng.index_dir)
    rows = m.where(
        (F.col("stage") == "verify_sha") & (F.col("status") == "failed")
    ).collect()
    assert rows and rows[0]["rows_in"] == 1 and rows[0]["sha_ok"] is False


def test_doc_id_assignment_deterministic(spark, small_corpus_df):
    a = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in assign_doc_ids(small_corpus_df, 4).select(
            "repo", "path", "commit", "doc_id"
        ).collect()
    }
    # different partition count -> identical ids (global rank is
    # boundary-independent; SURVEY.md §7 hard part (b))
    b = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in assign_doc_ids(small_corpus_df.repartition(7), 2).select(
            "repo", "path", "commit", "doc_id"
        ).collect()
    }
    assert a == b
    ids = sorted(a.values())
    assert ids == list(range(len(ids)))  # dense 0..N-1
    keys_by_id = sorted(a, key=a.get)
    assert keys_by_id == sorted(keys_by_id)  # rank order == key order


def _corpus_batch(df):
    import pyarrow as pa

    pdf = df.select("content").toPandas()
    return pa.RecordBatch.from_pydict(
        {
            "doc_id": pa.array(range(len(pdf)), pa.int64()),
            "content": pa.array(pdf["content"].tolist(), pa.string()),
        }
    )


def test_salting_equivalence(spark, small_corpus_df, tmp_path):
    """Salted build == unsalted build: identical postings bytes per
    (shard, term) in both analyzer modes (FIXTURES.md §6)."""
    from clinical_trial_searchengine_spark.plans.build import (
        make_tokenize_pack_kernel_arrow,
    )

    def postings(d):
        cols = ["shard", "term", "n_blocks", "postings"]
        return {
            (r["shard"], r["term"]): (r["n_blocks"], bytes(r["postings"]))
            for r in spark.read.parquet(seg.path_of(d, seg.POSTINGS))
            .select(cols).collect()
        }

    def term_stats(d):
        return {
            r["term"]: (r["df"], r["cf"])
            for r in spark.read.parquet(seg.path_of(d, seg.TERM_STATS))
            .collect()
        }

    batch = _corpus_batch(small_corpus_df)
    for mode in ("standard", "porter"):
        d1 = str(tmp_path / f"salted_{mode}")
        d2 = str(tmp_path / f"unsalted_{mode}")
        SearchEngine(spark, d1).build(
            small_corpus_df, mode=mode, shard_size=64, hot_df_threshold=10,
            max_salts=8,
        )
        SearchEngine(spark, d2).build(
            small_corpus_df, mode=mode, shard_size=64, hot_df_threshold=10**9
        )
        assert postings(d1) == postings(d2), mode
        # exact global term stats identical regardless of salting
        assert term_stats(d1) == term_stats(d2), mode
        # salting actually happened: salts are decided INSIDE the pack
        # kernel from local density — assert the pipeline marker, then
        # drive the kernel directly and check it assigns salt > 0 groups
        # for this corpus/threshold
        metrics = spark.read.parquet(seg.path_of(d1, seg.METRICS))
        assert metrics.where(F.col("metric") == "in_kernel").count() >= 1
        kern = make_tokenize_pack_kernel_arrow(
            mode, 64, 8, batch.num_rows, 10, 8
        )
        salts = [
            s for b in kern(iter([batch])) for s in b.column("salt").to_pylist()
        ]
        assert salts and max(salts) > 0, mode
        shutil.rmtree(d1)
        shutil.rmtree(d2)


def test_pack_kernel_streams_per_batch(small_corpus_df):
    """The pack kernel yields each input batch's packed rows before it
    pulls the next batch, so worker memory is bounded by the batch."""
    from clinical_trial_searchengine_spark.plans.build import (
        make_tokenize_pack_kernel_arrow,
    )

    batch = _corpus_batch(small_corpus_df)
    half = batch.num_rows // 2
    got = []

    def batches():
        yield batch.slice(0, half)
        assert got, "batch 2 pulled before batch 1's output was yielded"
        yield batch.slice(half)

    kern = make_tokenize_pack_kernel_arrow(
        "standard", 64, 8, batch.num_rows, 10, 8
    )
    for out in kern(batches()):
        got.append(out)
    assert len(got) == 2


def test_string_array_parts_rejects_non_utf8():
    """Offsets are read as int32: a large_string array must raise, not be
    silently misparsed."""
    import pyarrow as pa

    from clinical_trial_searchengine_spark.plans.build import (
        _string_array_parts,
    )

    data, starts, lens = _string_array_parts(pa.array(["ab", "", "c"]))
    assert list(starts) == [0, 2, 2] and list(lens) == [2, 0, 1]
    with pytest.raises(TypeError):
        _string_array_parts(pa.array(["ab", "c"], pa.large_string()))


def test_segment_schemas(built_index, spark):
    """FIXTURES.md §5 schema assertions (format v2: postings carry no
    df/cf; the term_stats dictionary is the idf source)."""
    d = built_index.index_dir
    postings = spark.read.parquet(seg.path_of(d, seg.POSTINGS))
    for c in ["term", "n_blocks", "postings", "shard"]:
        assert c in postings.columns, c
    assert "df" not in postings.columns and "cf" not in postings.columns
    dm = spark.read.parquet(seg.path_of(d, seg.DOC_META))
    assert {"doc_id", "repo", "path", "commit", "lang", "doc_len",
            "content_sha256"} <= set(dm.columns)
    stats = spark.read.parquet(seg.path_of(d, seg.STATS)).collect()
    assert len(stats) == 1
    s = stats[0]
    assert s["num_docs"] == 200 and s["total_terms"] > 0
    ts = spark.read.parquet(seg.path_of(d, seg.TERM_STATS))
    assert {"term", "df", "cf"} <= set(ts.columns)


def test_global_df_spans_shards(built_index, spark):
    """term_stats df is the GLOBAL df (B5): it equals the sum of decoded
    posting lengths across every shard, never a per-shard count."""
    from clinical_trial_searchengine_spark.functions.codec import decode_postings

    postings = spark.read.parquet(
        seg.path_of(built_index.index_dir, seg.POSTINGS)
    )
    rows = postings.where(F.col("term") == "def").collect()
    assert len(rows) > 1  # hot term present in several shards
    local_total = sum(
        len(decode_postings(bytes(r["postings"]))[0]) for r in rows
    )
    ts_df = (
        spark.read.parquet(
            seg.path_of(built_index.index_dir, seg.TERM_STATS)
        )
        .where(F.col("term") == "def")
        .collect()[0]["df"]
    )
    assert ts_df == local_total > max(
        len(decode_postings(bytes(r["postings"]))[0]) for r in rows
    )


def test_resume_skips_done_and_is_byte_identical(
    spark, small_corpus_df, tmp_path
):
    """Kill/resume (FIXTURES.md §4): build once; delete one postings group +
    its manifest 'done' rows; rebuild; segments byte-identical to an
    uninterrupted build."""
    d1 = str(tmp_path / "full")
    d2 = str(tmp_path / "resumed")
    kwargs = dict(shard_size=48, hot_df_threshold=40, n_resume_groups=3)
    SearchEngine(spark, d1).build(small_corpus_df, **kwargs)
    SearchEngine(spark, d2).build(small_corpus_df, **kwargs)

    # simulate a crash: group 1 postings never finished in d2
    shutil.rmtree(seg.path_of(d2, seg.POSTINGS) + "/group=1")
    # rewrite manifest without the ('postings', 1) done row
    m = spark.read.parquet(seg.path_of(d2, seg.MANIFEST))
    kept = m.where(
        ~((F.col("stage") == "postings") & (F.col("partition_id") == 1))
    ).collect()
    shutil.rmtree(seg.path_of(d2, seg.MANIFEST))
    spark.createDataFrame(kept, m.schema).coalesce(1).write.parquet(
        seg.path_of(d2, seg.MANIFEST)
    )
    done_before = seg.manifest_done(spark, d2)
    assert ("postings", 1) not in done_before
    assert ("postings", 0) in done_before
    ts_before = {
        (r["stage"], r["partition_id"]): r["finished_at"]
        for r in spark.read.parquet(seg.path_of(d2, seg.MANIFEST)).collect()
    }

    SearchEngine(spark, d2).build(small_corpus_df, **kwargs)  # resume

    def snapshot(d):
        return {
            (r["shard"], r["term"]): bytes(r["postings"])
            for r in spark.read.parquet(seg.path_of(d, seg.POSTINGS)).collect()
        }

    assert snapshot(d1) == snapshot(d2)
    # resumed build re-ran ONLY group 1: done stages keep their original
    # finished_at (they were skipped), group 1 got a fresh row
    ts_after = {
        (r["stage"], r["partition_id"]): r["finished_at"]
        for r in spark.read.parquet(seg.path_of(d2, seg.MANIFEST)).collect()
    }
    for key, t in ts_before.items():
        assert ts_after[key] == t, f"{key} was re-run on resume"
    assert ts_after[("postings", 1)] > max(ts_before.values())


def test_norms_cover_all_docs(built_index, spark):
    import numpy as np

    norms = spark.read.parquet(
        seg.path_of(built_index.index_dir, seg.NORMS)
    ).collect()
    total = sum(r["n"] for r in norms)
    assert total == 200
    for r in norms:
        arr = np.frombuffer(r["doc_lens"], dtype="<i4")
        assert len(arr) == r["n"]
        assert (arr >= 0).all()


def test_verify_sha_resume_does_not_trust_placeholder(
    spark, small_corpus_pdf, tmp_path
):
    """doc_meta persisted by a verify_sha=False run holds sha_ok=lit(True)
    placeholders; a later resumed verify_sha=True run must RECOMPUTE the
    hashes from the corpus (and fail on corruption) instead of reading the
    placeholder column and silently passing."""
    bad = small_corpus_pdf.copy()
    bad.loc[3, "content"] = bad.loc[3, "content"] + " tampered"
    d = str(tmp_path / "placeholder")
    # pass 1: invariant checking disabled -> build succeeds on corrupt input
    SearchEngine(spark, d).build(
        spark.createDataFrame(bad), shard_size=64, verify_sha=False
    )
    # pass 2: resume with verification ON -> must detect the corruption
    with pytest.raises(ValueError, match="sha256 invariant"):
        SearchEngine(spark, d).build(
            spark.createDataFrame(bad), shard_size=64, verify_sha=True
        )


def test_sha_failure_then_fixed_corpus_resumes_clean(
    spark, small_corpus_pdf, tmp_path
):
    """A failed sha check must not wedge the index dir: stages computed
    from the corrupt corpus are un-marked, so rebuilding with the FIXED
    corpus in the same dir recomputes them and succeeds."""
    import pytest as _pytest

    bad = small_corpus_pdf.copy()
    bad.loc[3, "content"] = bad.loc[3, "content"] + " tampered"
    d = str(tmp_path / "wedge")
    eng = SearchEngine(spark, d)
    with _pytest.raises(ValueError, match="sha256 invariant"):
        eng.build(spark.createDataFrame(bad), shard_size=64)
    # rerun with the corrected corpus in the SAME dir
    good = spark.createDataFrame(small_corpus_pdf)
    meta = SearchEngine(spark, d).build(good, shard_size=64)
    assert meta["num_docs"] == len(small_corpus_pdf)
    dm = spark.read.parquet(seg.path_of(d, seg.DOC_META))
    assert dm.where(~F.col("sha_ok")).count() == 0


GOLDEN_BUILD_KWARGS = dict(
    shard_size=48, hot_df_threshold=40, max_salts=4, n_resume_groups=2,
    norm_chunk=16,
)

_DIGEST_KEYS = [
    (seg.DOC_META, ["doc_id"]),
    (seg.TERM_STATS, ["term"]),
    (seg.NORMS, ["shard", "chunk"]),
    (seg.POSTINGS, ["group", "shard", "term"]),
]


def _segment_digests(spark, index_dir):
    """sha256 per segment over every row (sorted by key), every column
    (sorted by name) — binary cells (postings, doc_lens) as hex bytes."""
    import hashlib
    import json

    out = {}
    for sub, key in _DIGEST_KEYS:
        df = spark.read.parquet(seg.path_of(index_dir, sub))
        cols = sorted(df.columns)
        rows = sorted(
            (tuple(r[k] for k in key), [
                v.hex() if isinstance(v, (bytes, bytearray)) else v
                for v in (r[c] for c in cols)
            ])
            for r in df.collect()
        )
        h = hashlib.sha256(json.dumps(cols).encode())
        for _, vals in rows:
            h.update(json.dumps(vals).encode() + b"\n")
        out[sub] = h.hexdigest()
    return out


# Captured from the pair-row (porter) and packed (standard) build paths
# before the pair-row path was removed: the identity reference for both
# modes of the single build path.
GOLDEN_DIGESTS = {
    "standard": {
        seg.DOC_META: "85a2e661d79dccef30368c360653a603"
                      "3121329bbb24e12795087a1148c0e51b",
        seg.TERM_STATS: "ee9f501c3fbcd609c84fdfa518824060"
                        "f1efb0e1b1d6111775bf38c99ffee5a6",
        seg.NORMS: "52130ac58feb436f4032234dbec78e02"
                   "02241d730140dfedde3542aef2a99d39",
        seg.POSTINGS: "dbca9977f826d1347bd7131959c4c95a"
                      "12d643e48dcb75323f99e3ac87f62baa",
    },
    "porter": {
        seg.DOC_META: "880c5d8e00abfd4eb46a4d4c9151872b"
                      "17929e413f5152f2cd14e911a46276fc",
        seg.TERM_STATS: "fd61a63898fbe999630dd3a0ae732bf9"
                        "6879c318ffd49c79ae4818c56c91b933",
        seg.NORMS: "b003a66b8cbaabb916ec4cb9744fe79f"
                   "6107793c129eebd080533d134653cf3a",
        seg.POSTINGS: "3a44e762eaa48ec9b98172a3cfd5f2bb"
                      "7314ebd6ee4f52bb8ec3da0996be2f2f",
    },
}


def test_build_matches_golden_digests(spark, small_corpus_df, tmp_path):
    """The salted 200-doc build writes byte-identical DOC_META, TERM_STATS,
    NORMS and POSTINGS (postings payloads included) in both analyzer
    modes."""
    for mode, want in GOLDEN_DIGESTS.items():
        d = str(tmp_path / mode)
        SearchEngine(spark, d).build(
            small_corpus_df, mode=mode, **GOLDEN_BUILD_KWARGS
        )
        assert _segment_digests(spark, d) == want, mode
        shutil.rmtree(d)


def test_failed_postings_write_resumes_to_golden(
    spark, small_corpus_df, tmp_path, monkeypatch
):
    """Failure injection: the postings-write job raises on one resume
    group, so the build fails with no ('postings', g) done row for it; a
    rebuild into the same dir without the fault resumes and writes the
    golden standard-mode segments byte for byte."""
    from clinical_trial_searchengine_spark.plans import build as build_mod

    merge_runs = build_mod._make_merge_runs_kernel
    n_groups = GOLDEN_BUILD_KWARGS["n_resume_groups"]
    bad_group = 1

    def failing_merge_runs_kernel(codec="varint"):
        # nested closures pickle by value: the Python workers run the
        # fault without importing this module
        merge = merge_runs(codec)

        def kernel(batches):
            for batch in merge(batches):
                shard = batch.column("shard").to_numpy()
                if (shard % n_groups == bad_group).any():
                    raise RuntimeError("injected postings-write failure")
                yield batch

        return kernel

    d = str(tmp_path / "resumed")
    monkeypatch.setattr(
        build_mod, "_make_merge_runs_kernel", failing_merge_runs_kernel
    )
    with pytest.raises(Exception, match="injected postings-write failure"):
        SearchEngine(spark, d).build(
            small_corpus_df, mode="standard", **GOLDEN_BUILD_KWARGS
        )
    assert ("postings", bad_group) not in seg.manifest_done(spark, d)
    monkeypatch.undo()

    SearchEngine(spark, d).build(
        small_corpus_df, mode="standard", **GOLDEN_BUILD_KWARGS
    )
    assert _segment_digests(spark, d) == GOLDEN_DIGESTS["standard"]


def test_doc_len_ignores_literal_control_chars(spark):
    """The JVM doc_len expression must equal the analyzer's token count in
    both modes: a literal \\x01 is a separator, not a token; porter drops
    whole-token stopwords only; and the non-ASCII code points whose
    lowercase holds a token char (U+0130, the Kelvin sign) count as the
    analyzer counts them."""
    import pandas as pd

    from clinical_trial_searchengine_spark.functions.analysis import (
        analyze_batch,
    )
    from clinical_trial_searchengine_spark.plans.build import (
        _make_doc_len_col,
    )

    texts = [
        "foo\x01bar",              # marker inside: 2 tokens, not 3
        "\x01\x01",                # only markers: 0 tokens
        "plain text here",         # control
        "a\x01b c\x01\x01d",       # interleaved
        "",
        "\u0130x foo",             # lowers to "i" + U+0307: i, x, foo
        "a\u0130n",                # ai, n
        "x\u212ay",                # Kelvin sign lowers to k: xky
        "foo_the bar",             # stopword between separators
        "a1 an2 is",               # stopword prefixes of longer tokens
        "The cat and THE dog",     # stopwords in any case
        "the\u0130 \u0130is \u212athe",  # thei, i, is, kthe
    ]
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    for mode in ("standard", "porter"):
        _, expected = analyze_batch(pd.Series(texts), mode)
        got = [r[0] for r in df.select(_make_doc_len_col(mode)).collect()]
        assert got == list(expected), mode


@pytest.mark.parametrize("cap", [
    pytest.param(None, id="default_cap"),
    pytest.param(0, id="cap0"),
])
def test_assign_doc_ids_null_keys_and_duplicate_guard(
    spark, small_corpus_df, monkeypatch, cap
):
    """NULL key columns must not silently drop rows (null-safe mapping
    join), and duplicate (repo,path,commit) keys must raise instead of
    m x n-exploding the mapping join — on the broadcast-mapping path and,
    with the cap forced to 0, on the full-row range-shuffle fallback,
    which must also assign the mapping path's doc_ids."""
    from clinical_trial_searchengine_spark.plans import build

    def ids_by_key(df):
        return {
            (r["repo"], r["path"], r["commit"]): r["doc_id"]
            for r in assign_doc_ids(df).select(
                "repo", "path", "commit", "doc_id"
            ).collect()
        }

    if cap is not None:
        mapping_ids = ids_by_key(small_corpus_df)
        monkeypatch.setattr(build, "_BROADCAST_MAP_CAP", cap)
        assert ids_by_key(small_corpus_df) == mapping_ids

    rows = [
        ("r1", "a.py", "c1", "py", "alpha"),
        ("r1", "b.py", None, "py", "bravo"),   # NULL commit
        (None, "c.py", "c2", "py", "charlie"),  # NULL repo
        ("r2", "d.py", "c3", "py", "delta"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
        "content string"
    )
    out = assign_doc_ids(df).select("doc_id", "content").collect()
    assert len(out) == 4  # nothing dropped
    assert sorted(r["doc_id"] for r in out) == [0, 1, 2, 3]  # dense

    dup = spark.createDataFrame(
        [rows[0], rows[0], rows[3]],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    with pytest.raises(ValueError, match="duplicate"):
        assign_doc_ids(dup)

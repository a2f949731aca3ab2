"""S5 replace/delete semantics between compactions (tombstone mask).

Upsert: a re-committed (repo, path) supersedes its older versions
immediately — old versions invisible to every query path — while global
stats stay Lucene-parity-stale until compaction; compaction restores
oracle-exact scores and clears the tombstones.
(reference: backend/db/scrape_clinical_trials.py:332-462 ON CONFLICT
row+children replace.)
"""

from __future__ import annotations

import pandas as pd
import pytest

from clinical_trial_searchengine_spark.engine import SearchEngine
from clinical_trial_searchengine_spark.plans import segments as seg
from clinical_trial_searchengine_spark.sources.corpus import (
    generate_corpus_pandas,
)

TOL = 1e-9


def _key_scores(spark, index_dir: str, query: str) -> dict:
    eng = SearchEngine(spark, index_dir)
    key_by_id = {
        r["doc_id"]: (r["repo"], r["path"], r["commit"])
        for r in eng.handle().doc_meta_df().collect()
    }
    return {
        key_by_id[r["doc_id"]]: r["score"]
        for r in eng.search_all(query).collect()
    }


@pytest.fixture(scope="module")
def upserted(spark, tmp_path_factory):
    """Index over 120 docs, then 10 paths re-committed with new content."""
    tmp = tmp_path_factory.mktemp("upsert")
    full = generate_corpus_pandas(120, seed=23)
    d = str(tmp / "ups")
    eng = SearchEngine(spark, d)
    eng.build(spark.createDataFrame(full), shard_size=48)

    import hashlib

    upd = full.iloc[:10].copy()
    upd["commit"] = upd["commit"] + "beef"
    upd["content"] = upd["content"] + " zzzupserted marker"
    upd["content_sha256"] = upd["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest()
    )
    cur = pd.concat([upd, full.iloc[10:]], ignore_index=True)
    out = eng.upsert_documents(spark.createDataFrame(cur), shard_size=48)
    return eng, full, upd, cur, out, str(tmp)


def test_upsert_tombstones_old_versions(spark, upserted):
    eng, full, upd, cur, out, _ = upserted
    assert out["new_docs"] == 10
    assert out["tombstones"] == 10

    # doc_meta: new (repo, path, commit) present, superseded triples gone
    keys = {
        (r["repo"], r["path"], r["commit"])
        for r in eng.handle().doc_meta_df().collect()
    }
    new_keys = set(map(tuple, upd[["repo", "path", "commit"]].to_numpy()))
    old_keys = set(
        map(tuple, full.iloc[:10][["repo", "path", "commit"]].to_numpy())
    )
    assert new_keys <= keys
    assert not (old_keys & keys)
    assert len(keys) == 120

    # a term unique to the new versions matches exactly the 10 new docs
    hits = eng.search_all("zzzupserted").collect()
    assert len(hits) == 10

    # no query path ever serves a tombstoned doc (exhaustive, top-k with
    # every kernel, batch)
    tomb = set(seg.read_tombstones(eng.index_dir))
    assert len(tomb) == 10
    for q in ["def license", "validation tokenizer", "import streaming"]:
        assert not any(
            r["doc_id"] in tomb for r in eng.search_all(q).collect()
        )
        for kernel in ["exhaustive", "pruned", "wand_ref"]:
            got = eng.search(q, 10, kernel=kernel).collect()
            assert not any(r["doc_id"] in tomb for r in got)
        batch = eng.search_many({"q": q}, k=10).collect()
        assert not any(r["doc_id"] in tomb for r in batch)


def test_upsert_kernels_rank_identical(spark, upserted):
    """All kernels agree on the masked index (tombstone-aware theta/heap)."""
    eng, *_ = upserted
    for q in ["def license", "validation tokenizer"]:
        ref = [
            (r["doc_id"], r["score"])
            for r in eng.search(q, 10, kernel="exhaustive").collect()
        ]
        for kernel in ["pruned", "wand_ref"]:
            got = [
                (r["doc_id"], r["score"])
                for r in eng.search(q, 10, kernel=kernel).collect()
            ]
            assert got == ref, (q, kernel)


def test_upsert_decoded_shape_matches_exhaustive(spark, upserted):
    """The decoded relation drops tombstoned docs at warm() time: on the
    upserted (two-generation) index, default warmed searches, search_all
    and search_many equal the explicit exhaustive kernel's rows and
    scores, and never serve a tombstoned doc."""
    eng = SearchEngine(spark, upserted[0].index_dir).warm()
    tomb = set(seg.read_tombstones(eng.index_dir))
    try:
        assert eng.handle().decoded is not None
        for q in ["def license", "validation tokenizer", "zzzupserted"]:
            got = eng.search_topk_rows(q, 10)
            assert got and got == eng.search_topk_rows(
                q, 10, kernel="exhaustive")
            assert not any(d in tomb for d, _ in got)
            every = sorted((r["doc_id"], r["score"])
                           for r in eng.search_all(q).collect())
            assert not any(d in tomb for d, _ in every)
            assert got == sorted(every, key=lambda t: (-t[1], t[0]))[:10]
            assert eng.search_many_rows({"q": q}, k=10)["q"] == got
    finally:
        eng.handle().close()


def test_doc_meta_tombstone_mask_is_anti_join(spark, upserted, monkeypatch):
    """doc_meta masks tombstones with a broadcast left-anti join — the plan
    does not inline the tombstone ids as an IN list — and include_meta
    rows equal those of the IN-list mask."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    eng, *_ = upserted
    handle = eng.handle()
    buf = io.StringIO()
    with redirect_stdout(buf):
        handle.doc_meta_df().explain(mode="formatted")
    plan = buf.getvalue()
    assert "LeftAnti" in plan
    assert "InSet" not in plan and " IN (" not in plan, plan

    tomb = [int(x) for x in handle.tombstones]
    for q in ["def license", "zzzupserted marker"]:
        got = eng.search(q, 10, include_meta=True).collect()
        assert got and not any(r["doc_id"] in tomb for r in got)
        with monkeypatch.context() as m:
            m.setattr(
                handle, "_drop_tombstoned",
                lambda df: df.where(~F.col("doc_id").isin(tomb)),
            )
            exp = eng.search(q, 10, include_meta=True).collect()
        assert got == exp, q


def test_compaction_restores_exact_scores(spark, upserted):
    eng, full, upd, cur, out, tmp = upserted
    d_ref = tmp + "/ref"
    eng.compact(spark.createDataFrame(cur), shard_size=48)
    assert seg.read_tombstones(eng.index_dir) == []

    SearchEngine(spark, d_ref).build(
        spark.createDataFrame(cur), shard_size=48
    )
    for q in ["def license", "zzzupserted marker"]:
        got = _key_scores(spark, eng.index_dir, q)
        exp = _key_scores(spark, d_ref, q)
        assert set(got) == set(exp), q
        for key, s in exp.items():
            assert abs(got[key] - s) <= TOL, (q, key)


def test_delete_documents(spark, tmp_path):
    full = generate_corpus_pandas(80, seed=31)
    d = str(tmp_path / "del")
    eng = SearchEngine(spark, d)
    eng.build(spark.createDataFrame(full), shard_size=48)

    victims = full.iloc[5:9][["repo", "path"]]
    out = eng.delete_documents(spark.createDataFrame(victims))
    assert out["deleted"] == 4 and out["tombstones"] == 4

    dm_keys = {
        (r["repo"], r["path"])
        for r in eng.handle().doc_meta_df().collect()
    }
    assert not (set(map(tuple, victims.to_numpy())) & dm_keys)
    tomb = set(seg.read_tombstones(d))
    for q in ["def license", "import streaming"]:
        assert not any(
            r["doc_id"] in tomb for r in eng.search_all(q).collect()
        )

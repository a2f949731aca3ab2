"""Delta-generation incremental indexing: append == rebuild (scores), no
full-rebuild on append, idempotency, top-k paths over multi-gen indexes."""

from __future__ import annotations

import os
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinical_trial_searchengine_spark.engine import SearchEngine
from clinical_trial_searchengine_spark.plans import segments as seg
from clinical_trial_searchengine_spark.plans.query import IndexHandle
from clinical_trial_searchengine_spark.sources.corpus import (
    generate_corpus_pandas,
)
from clinical_trial_searchengine_spark.streaming.incremental import (
    incremental_index,
)

TOL = 1e-9
QUERIES = ["def license", "validation tokenizer", "import streaming the"]


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
def corpora(spark):
    full = generate_corpus_pandas(160, seed=7)
    return (
        spark.createDataFrame(full.iloc[:100]),
        spark.createDataFrame(full),
    )


def test_append_matches_full_rebuild_scores(spark, corpora, tmp_path):
    part, full = corpora
    d_inc = str(tmp_path / "inc")
    d_full = str(tmp_path / "full")

    m0 = incremental_index(spark, part, d_inc, shard_size=48)
    assert m0["new_docs"] == 100
    gen0_manifest_mtime = os.path.getmtime(
        os.path.join(d_inc, "meta.json")
    )

    m1 = incremental_index(spark, full, d_inc, shard_size=48)
    assert m1["new_docs"] == 60 and m1["num_docs"] == 160
    # gen 0 untouched (no rmtree / rebuild)
    assert os.path.getmtime(os.path.join(d_inc, "meta.json")) == (
        gen0_manifest_mtime
    )
    assert os.path.exists(os.path.join(d_inc, "gen=1"))
    gens = seg.read_generations(d_inc)
    assert [g["gen"] for g in gens] == [0, 1]
    assert [g["base"] for g in gens] == [0, 100]

    incremental_index(spark, full, d_full, shard_size=48)  # single gen
    for q in QUERIES:
        got, exp = _key_scores(spark, d_inc, q), _key_scores(spark, d_full, q)
        assert set(got) == set(exp), q
        for key, s in exp.items():
            assert abs(got[key] - s) <= TOL, (q, key)

    # idempotency: same corpus again -> no new generation
    m2 = incremental_index(spark, full, d_inc, shard_size=48)
    assert m2["new_docs"] == 0
    assert m2["num_docs"] == 160
    assert len(seg.read_generations(d_inc)) == 2


def test_multi_gen_topk_and_batch_paths(spark, corpora, tmp_path):
    """search() top-k, filtered search, and search_many all work over a
    multi-generation index with globalized doc_ids."""
    part, full = corpora
    d = str(tmp_path / "mg")
    incremental_index(spark, part, d, shard_size=48)
    incremental_index(spark, full, d, shard_size=48)
    eng = SearchEngine(spark, d)

    top = eng.search_topk_rows("def license", 10)
    assert len(top) == 10
    full_scores = {
        r["doc_id"]: r["score"]
        for r in eng.search_all("def license").collect()
    }
    exp = sorted(full_scores.items(), key=lambda e: (-e[1], e[0]))[:10]
    assert top == exp

    # global doc_ids are unique across generations and within [0, 160)
    dm = IndexHandle(spark, d).doc_meta_df()
    ids = [r["doc_id"] for r in dm.select("doc_id").collect()]
    assert sorted(ids) == list(range(160))

    # filter context over global ids
    allowed = dm.where(F.col("lang") == "python").select("doc_id")
    allowed_ids = {r["doc_id"] for r in allowed.collect()}
    got = eng.search("def license", 10, filter_doc_ids=allowed).collect()
    assert got and all(r["doc_id"] in allowed_ids for r in got)
    for r in got:
        assert abs(full_scores[r["doc_id"]] - r["score"]) <= TOL

    # batch path rank-identical to single-query path
    batch = eng.search_many({"qa": "def license"}, k=10).collect()
    rows = sorted((r["rank"], r["doc_id"], r["score"]) for r in batch)
    assert [(d_, s) for _, d_, s in rows] == top

    # include_meta joins the generation-global doc_meta
    meta_rows = eng.search("def license", 5, include_meta=True).collect()
    assert len(meta_rows) == 5 and all(r["repo"] for r in meta_rows)


def test_compact_collapses_generations(spark, corpora, tmp_path):
    """engine.compact() rewrites all generations as one with identical
    scores; add_documents is the incremental facade."""
    part, full = corpora
    d = str(tmp_path / "cmp")
    eng = SearchEngine(spark, d)
    eng.add_documents(part, shard_size=48)
    eng.add_documents(full, shard_size=48)
    assert len(seg.read_generations(d)) == 2
    before = _key_scores(spark, d, "def license")

    out = eng.compact(full, shard_size=48)
    assert out["num_docs"] == 160
    assert len(seg.read_generations(d)) == 1
    assert not os.path.exists(os.path.join(d, "gen=1"))
    after = _key_scores(spark, d, "def license")
    assert set(before) == set(after)
    for key, s in before.items():
        assert abs(after[key] - s) <= TOL


def test_multi_gen_warmed_handle(spark, corpora, tmp_path):
    """warm() on a multi-generation index (merged-term-dictionary
    preload, decoded relation with GLOBAL doc_ids) must not change
    results: the decoded shape equals the cold cogroup kernel, and so
    does the warmed handle's explicit-kernel search, which runs the
    cogroup over the parquet scan — rows and scores."""
    part, full = corpora
    d = str(tmp_path / "warm")
    incremental_index(spark, part, d, shard_size=48)
    incremental_index(spark, full, d, shard_size=48)
    eng = SearchEngine(spark, d)
    eng2 = SearchEngine(spark, d).warm()
    assert eng2.handle()._df_preloaded
    assert eng2.handle().decoded is not None
    for q in ["def license", "import streaming tokens", "the"]:
        cold = eng.search_topk_rows(q, 10)
        assert cold and eng2.search_topk_rows(q, 10) == cold
        assert eng2.search_topk_rows(q, 10, kernel="exhaustive") == cold
    eng2.handle().close()


def test_merged_stats_equal_spark_reference(spark, tmp_path):
    """Global stats of a 2- and a 3-generation index, summed on the driver
    from the generations' meta.json, equal (==) the Spark aggregate over
    the generations' stats/ tables: sum(total_terms) / sum(num_docs) —
    for the incremental result, for global_stats and for an opened
    handle's meta.  No stats table is written at the root."""
    full = generate_corpus_pandas(200, seed=13)
    d = str(tmp_path / "stats")
    for n in (100, 150, 200):
        out = incremental_index(
            spark, spark.createDataFrame(full.iloc[:n]), d,
            shard_size=48, max_generations=None,
        )
        gens = seg.read_generations(d)
        assert len(gens) == n // 50 - 1
        if len(gens) == 1:
            continue
        st = reduce(DataFrame.unionByName, [
            spark.read.parquet(
                seg.path_of(seg.gen_dir(d, g["gen"]), seg.STATS)
            )
            for g in gens
        ])
        row = st.agg(
            F.sum("num_docs").alias("num_docs"),
            F.sum("total_terms").alias("total_terms"),
        ).select(
            "num_docs",
            (F.col("total_terms") / F.col("num_docs")).alias("avg_doc_len"),
            "total_terms",
        ).collect()[0]
        ref = {k: row[k] for k in ("num_docs", "avg_doc_len", "total_terms")}
        assert ref["num_docs"] == n
        assert seg.global_stats(d, gens) == ref
        assert {k: out[k] for k in ref} == ref
        meta = IndexHandle(spark, d).meta
        assert {k: meta[k] for k in ref} == ref
        assert not os.path.exists(os.path.join(d, "stats_merged"))


def test_mixed_schema_generations(spark, corpora, tmp_path):
    """A base built with content_sha256 plus a delta built without it:
    doc_meta_df() unions them (delta sha NULL), delete and upsert still
    tombstone by key in either generation, and search equals
    search_all's top-k."""
    part, full = corpora
    pdf = full.toPandas()
    d = str(tmp_path / "mixed")
    eng = SearchEngine(spark, d)
    eng.add_documents(part, shard_size=48)
    eng.add_documents(full.drop("content_sha256"), shard_size=48)
    assert len(seg.read_generations(d)) == 2

    dm = {r["doc_id"]: r for r in eng.handle().doc_meta_df().collect()}
    assert sorted(dm) == list(range(160))
    assert all(dm[i]["content_sha256"] is not None for i in range(100))
    assert all(dm[i]["content_sha256"] is None for i in range(100, 160))
    id_of = {(r["repo"], r["path"], r["commit"]): i for i, r in dm.items()}

    def top_equals_search_all(q):
        scores = {
            r["doc_id"]: r["score"] for r in eng.search_all(q).collect()
        }
        exp = sorted(scores.items(), key=lambda e: (-e[1], e[0]))[:10]
        assert eng.search_topk_rows(q, 10) == exp
        return scores

    for q in QUERIES:
        top_equals_search_all(q)

    # delete one doc of each generation by (repo, path)
    gone = pdf.iloc[[5, 120]][["repo", "path"]]
    gone_ids = {
        id_of[k] for k in zip(pdf["repo"], pdf["path"], pdf["commit"])
        if (k[0], k[1]) in set(zip(gone["repo"], gone["path"]))
    }
    assert {id_of[tuple(pdf.iloc[i][["repo", "path", "commit"]])]
            for i in (5, 120)} <= gone_ids
    out = eng.delete_documents(spark.createDataFrame(gone))
    assert out["deleted"] == len(gone_ids)

    # upsert: re-commit one delta-generation doc (schema without sha)
    upd = pdf.drop(columns=["content_sha256"])
    old_key = tuple(upd.iloc[130][["repo", "path", "commit"]])
    upd.loc[130, "commit"] = upd.loc[130, "commit"] + "beef"
    upd.loc[130, "content"] = upd.loc[130, "content"] + " zzzmixedmarker"
    eng.upsert_documents(spark.createDataFrame(upd), shard_size=48)
    assert len(seg.read_generations(d)) == 3

    masked = gone_ids | {id_of[old_key]}
    live = {r["doc_id"] for r in eng.handle().doc_meta_df().collect()}
    assert live == (set(range(160)) - masked) | {160}
    for q in QUERIES:
        assert not masked & set(top_equals_search_all(q))
    assert [d_ for d_, _ in eng.search_topk_rows("zzzmixedmarker", 10)] == [
        160
    ]


def test_auto_compaction_policy(spark, tmp_path):
    """Appends that would exceed the generation budget compact automatically
    (no manual full_rebuild), and the compacted index is score-identical to
    a single fresh build over the same corpus."""
    full = generate_corpus_pandas(160, seed=11)
    d_inc = str(tmp_path / "auto")
    d_ref = str(tmp_path / "ref")

    sizes = [64, 96, 128, 160]
    outs = [
        incremental_index(
            spark, spark.createDataFrame(full.iloc[:n]), d_inc,
            shard_size=48, max_generations=2, max_delta_fraction=0.9,
        )
        for n in sizes
    ]
    # 4 appends with a budget of 2 generations: the 3rd (would be gen 2)
    # auto-compacts; the live index never exceeds the budget
    assert any(o.get("compacted") for o in outs)
    assert len(seg.read_generations(d_inc)) <= 2
    assert outs[-1]["num_docs"] == 160

    incremental_index(spark, spark.createDataFrame(full), d_ref, shard_size=48)
    for q in QUERIES:
        got, exp = _key_scores(spark, d_inc, q), _key_scores(spark, d_ref, q)
        assert set(got) == set(exp), q
        for key, s in exp.items():
            assert abs(got[key] - s) <= TOL, (q, key)

    # delta-fraction trigger: tiny gen budget is fine but a >50% delta on a
    # fresh 2-gen index compacts even below the generation cap
    d2 = str(tmp_path / "frac")
    incremental_index(
        spark, spark.createDataFrame(full.iloc[:40]), d2, shard_size=48
    )
    out2 = incremental_index(
        spark, spark.createDataFrame(full), d2,
        shard_size=48, max_generations=8, max_delta_fraction=0.5,
    )
    assert out2.get("compacted")
    assert len(seg.read_generations(d2)) == 1

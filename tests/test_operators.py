"""Operator-level oracle tests (DuckDB as the single-node referee) for the
pipeline operators that aren't covered by the BM25 rank-identity suite."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.01"


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con.execute(sql).df()


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if "float" in str(df[c].dtype):
            df[c] = df[c].astype("float64").round(6)
        elif "int" in str(df[c].dtype):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_bm25_multifield_matches_oracle(docs):
    from clinical_trial_searchengine_spark.plans.dataframe_bm25 import (
        bm25_multifield_oracle_sql,
        bm25_multifield_topk,
    )

    terms = {"merge": 1.0, "join": 1.0}
    fields = [("substring(text, 1, 120)", 3.0), ("text", 1.0)]
    got = _norm(bm25_multifield_topk(docs, terms, fields, k=10).toPandas())
    exp = _norm(_duck(bm25_multifield_oracle_sql(terms, fields, k=10)))
    pd.testing.assert_frame_equal(got, exp)


# 31 corpus terms (the whole sf0.01 vocabulary) + 9 no-hit terms, mixed qtf
_WIDE_TERMS = {
    **{t: 1.0 + (i % 3) for i, t in enumerate(
        "join hash row batch scan customer column filter small slow merge "
        "order vector line data table agg value key stream window spark a "
        "group part big sort query fast the dup".split())},
    **{f"zzznohit{i}": 1.0 for i in range(9)},
}


@pytest.mark.parametrize("terms, cap", [
    pytest.param(_WIDE_TERMS, None, id="wide-default_cap"),
    pytest.param({"merge": 1.0, "join": 1.0, "filter": 1.0}, 0,
                 id="narrow-cap0"),
])
def test_bm25_join_plan_matches_oracle(docs, monkeypatch, terms, cap):
    """The join plan (query wider than the one-pass cap) equals DuckDB."""
    from clinical_trial_searchengine_spark.plans import dataframe_bm25
    from clinical_trial_searchengine_spark.plans.dataframe_bm25 import (
        bm25_oracle_sql,
        bm25_topk,
    )

    if cap is not None:
        monkeypatch.setattr(dataframe_bm25, "_ONEPASS_MAX_TERMS", cap)
    assert len(terms) > dataframe_bm25._ONEPASS_MAX_TERMS
    got = _norm(bm25_topk(docs, terms, k=10).toPandas())
    exp = _norm(_duck(bm25_oracle_sql(terms, k=10)))
    assert len(exp) == 10
    pd.testing.assert_frame_equal(got, exp)


def test_bm25_multifield_beats_single_field_for_prefix_hits(docs):
    """A doc whose match sits in the boosted prefix field must outrank an
    identical-tf body-only match (dis_max semantics)."""
    from clinical_trial_searchengine_spark.plans.dataframe_bm25 import (
        bm25_multifield_topk,
        bm25_topk,
    )

    terms = {"merge": 1.0}
    fields = [("substring(text, 1, 120)", 3.0), ("text", 1.0)]
    multi = bm25_multifield_topk(docs, terms, fields, k=5).toPandas()
    single = bm25_topk(docs, terms, k=5).toPandas()
    assert multi["score"].iloc[0] > single["score"].iloc[0]


def test_embedding_cosine_duplicates_matches_oracle(emb):
    from clinical_trial_searchengine_spark.operators.dedup import (
        embedding_cosine_duplicates,
    )

    got = _norm(embedding_cosine_duplicates(emb, threshold=0.5).toPandas())
    exp = _norm(
        _duck(
            """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.5
            """
        )
    )
    assert len(got) >= 1
    pd.testing.assert_frame_equal(got, exp)


def test_embedding_cosine_duplicates_self_consistent(spark):
    """Duplicated vectors must pair with cosine 1.0, distinct orthogonals
    must not pair."""
    from clinical_trial_searchengine_spark.operators.dedup import (
        embedding_cosine_duplicates,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),     # dup of 1
        (3, [0.0, 1.0, 0.0]),     # orthogonal
        (4, [0.9, 0.1, 0.0]),     # near-dup of 1/2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_cosine_duplicates(df, threshold=0.95).collect()
    }
    assert got[(1, 2)] == 1.0
    assert (1, 4) in got and (2, 4) in got
    assert all((3 not in p) for p in got)


def test_hybrid_search_end_to_end(built_index, spark):
    """Composed /rank pipeline over the real engine + a synthetic embedding
    table keyed by engine doc_id: membership obeys the sparse-leg drop rule
    and the filter context."""
    import numpy as np
    from pyspark.sql import functions as F

    from clinical_trial_searchengine_spark.operators.hybrid import (
        hybrid_search,
    )
    from clinical_trial_searchengine_spark.plans import segments as seg

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((200, 16)).round(3)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    out = hybrid_search(
        built_index, "def license", emb, [float(x) for x in vecs[0]],
        k=10, sparse_n=30, dense_n=60,
    ).collect()
    assert len(out) == 10
    sparse_ids = {
        d for d, _ in built_index.search_topk_rows("def license", 30)
    }
    assert all(r["doc_id"] in sparse_ids for r in out)  # drop rule
    assert all(0.0 <= r["final_score"] <= 1.0 for r in out)

    # filter context propagates through the sparse leg
    dm = spark.read.parquet(seg.path_of(built_index.index_dir, seg.DOC_META))
    allowed = dm.where(F.col("lang") == "python").select("doc_id")
    allowed_ids = {r["doc_id"] for r in allowed.collect()}
    filtered = hybrid_search(
        built_index, "def license", emb, [float(x) for x in vecs[0]],
        k=10, sparse_n=30, dense_n=60, filter_doc_ids=allowed,
    ).collect()
    assert filtered and all(r["doc_id"] in allowed_ids for r in filtered)


def test_hybrid_search_dense_only_fallback(built_index, spark):
    """An out-of-vocabulary query empties the BM25 leg; instead of the RRF
    drop rule annihilating the result set, hybrid_search serves the dense
    ranking min-max-normalized (reference: backend/api/main.py:764-774,
    832-933 dense_only_fallback).  Filters still honored via semi-join."""
    import numpy as np
    from pyspark.sql import functions as F

    from clinical_trial_searchengine_spark.operators.hybrid import (
        dense_only_rank,
        hybrid_search,
    )
    from clinical_trial_searchengine_spark.operators.similarity import (
        cosine_topk,
    )
    from clinical_trial_searchengine_spark.plans import segments as seg

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((200, 16)).round(3)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    qv = [float(x) for x in vecs[3]]
    oov = "zqxjvzzz frobnicatrixx"  # no hits in the corpus
    assert not built_index.search(oov, 10).head(1)
    out = hybrid_search(
        built_index, oov, emb, qv, k=10, sparse_n=30, dense_n=60
    ).collect()
    assert len(out) == 10
    assert all(0.0 <= r["final_score"] <= 1.0 for r in out)
    # fallback == dense-only ranking of the same pool
    dense = cosine_topk(emb, qv, k=60, id_col="vec_id").select(
        F.col("vec_id").alias("doc_id"), "cosine"
    )
    exp = dense_only_rank(dense, k=10).collect()
    assert [(r["doc_id"], r["final_score"]) for r in out] == [
        (r["doc_id"], r["final_score"]) for r in exp
    ]

    # filter context honored in the fallback (J2 semi-join shape)
    dm = spark.read.parquet(seg.path_of(built_index.index_dir, seg.DOC_META))
    allowed = dm.where(F.col("lang") == "python").select("doc_id")
    allowed_ids = {r["doc_id"] for r in allowed.collect()}
    got = hybrid_search(
        built_index, oov, emb, qv, k=10, sparse_n=30, dense_n=60,
        filter_doc_ids=allowed,
    ).collect()
    assert got and all(r["doc_id"] in allowed_ids for r in got)

    # missing dense leg is a clear argument error, not a deep AttributeError
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dense leg"):
        hybrid_search(built_index, "def license", None, qv)


def test_ivf_materialized_index_prunes_partitions(spark, tmp_path):
    """build_ivf_index writes _list-partitioned parquet; ivf_search's scan
    must show partition filters on _list (only probed lists are read) and
    full-probe results must equal brute force."""
    import numpy as np
    from clinical_trial_searchengine_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        ivf_search,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((300, 12)).round(3)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    d = str(tmp_path / "ivf")
    build_ivf_index(emb, d, n_centroids=8)
    q = [float(x) for x in vecs[5]]

    probed = ivf_search(spark, d, q, k=10, n_probe=2)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_list" in plan
    # probed partitions only: fewer input files than lists exist
    exact = ivf_search(spark, d, q, k=10, n_probe=8, round_to=6).collect()
    brute = cosine_topk(emb, q, k=10, round_to=6).collect()
    assert [(r["vec_id"], r["cosine"]) for r in exact] == [
        (r["vec_id"], r["cosine"]) for r in brute
    ]
    # low-probe search finds the query vector itself (it's in the top list)
    top = probed.collect()
    assert top and top[0]["vec_id"] == 5 and abs(top[0]["cosine"] - 1.0) < 1e-6


def test_embedding_dedup_block_pairs_no_driver_collect(spark, monkeypatch):
    """The block-pair plan must be exact across MULTIPLE blocks and must
    never materialize the embedding table on the driver (DataFrame.collect
    is forbidden while the operator builds its plan)."""
    import numpy as np
    from pyspark.sql import DataFrame

    from clinical_trial_searchengine_spark.operators.dedup import (
        embedding_cosine_duplicates,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal((8, 6))
    rows = []
    for i in range(48):  # 6 noisy copies of each of 8 prototypes
        v = base[i % 8] + rng.standard_normal(6) * 0.05
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    real_collect = DataFrame.collect

    def forbidden(self, *a, **k):
        raise AssertionError("driver-side collect inside dedup operator")

    monkeypatch.setattr(DataFrame, "collect", forbidden)
    try:
        out = embedding_cosine_duplicates(df, threshold=0.9, n_blocks=4)
    finally:
        monkeypatch.setattr(DataFrame, "collect", real_collect)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()
    }
    # numpy ground truth
    M = np.array([r[1] for r in rows], dtype=np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    exp = {}
    for i in range(48):
        for j in range(i + 1, 48):
            if S[i, j] >= 0.9:
                exp[(i, j)] = round(S[i, j], 6)
    assert set(got) == set(exp)
    for k_, v in exp.items():
        assert abs(got[k_] - v) <= 1e-9
    assert len(exp) > 40  # prototypes actually cluster


def test_lsh_materialized_index_prunes_partitions(spark, tmp_path):
    """build_lsh_index writes _bucket-partitioned parquet; lsh_search must
    show partition filters on _bucket and return exactly what the on-the-fly
    cosine_topk_lsh returns for the same probe set."""
    import numpy as np
    from clinical_trial_searchengine_spark.operators.similarity import (
        build_lsh_index,
        cosine_topk_lsh,
        lsh_search,
    )

    rng = np.random.default_rng(23)
    vecs = rng.standard_normal((300, 12)).round(3)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    d = str(tmp_path / "lsh")
    meta = build_lsh_index(emb, d, n_planes=8, seed=42)
    assert meta["dim"] == 12
    q = [float(x) for x in vecs[7]]

    mat = lsh_search(spark, d, q, k=10, multiprobe_hamming=1)
    plan = mat._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan
    fly = cosine_topk_lsh(
        emb, q, k=10, n_planes=8, seed=42, multiprobe_hamming=1
    )
    assert [(r["vec_id"], r["cosine"]) for r in mat.collect()] == [
        (r["vec_id"], r["cosine"]) for r in fly.collect()
    ]
    # the query's own vector survives bucketing
    top = mat.collect()
    assert top and top[0]["vec_id"] == 7 and abs(top[0]["cosine"] - 1.0) < 1e-6


def test_hybrid_search_ivf_backed_dense_leg(built_index, spark, tmp_path):
    """hybrid_search over the MATERIALIZED IVF index (full probe -> exact)
    must equal the brute-force dense leg end-to-end."""
    import numpy as np
    from clinical_trial_searchengine_spark.operators.hybrid import (
        hybrid_search,
    )
    from clinical_trial_searchengine_spark.operators.similarity import (
        build_ivf_index,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((200, 16)).round(3)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    d = str(tmp_path / "hybrid_ivf")
    build_ivf_index(emb, d, n_centroids=8)
    q = [float(x) for x in vecs[0]]
    brute = hybrid_search(
        built_index, "def license", emb, q, k=10, sparse_n=30, dense_n=60,
    ).collect()
    ivf = hybrid_search(
        built_index, "def license", None, q, k=10, sparse_n=30, dense_n=60,
        ivf_index_dir=d, n_probe=8,
    ).collect()
    assert [(r["doc_id"], r["final_score"]) for r in ivf] == [
        (r["doc_id"], r["final_score"]) for r in brute
    ]


def test_ngram_jaccard_prefix_filter_equals_naive(docs):
    """The AllPairs prefix-filter path (default) must return EXACTLY the
    naive shingle-self-join pairs — the filter only prunes candidates that
    provably cannot reach the threshold, and verification is exact."""
    from clinical_trial_searchengine_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    d = docs.limit(400)
    got = _norm(
        ngram_jaccard_pairs(d, threshold=0.7, prefix_filter=True).toPandas()
    )
    exp = _norm(
        ngram_jaccard_pairs(d, threshold=0.7, prefix_filter=False).toPandas()
    )
    pd.testing.assert_frame_equal(got, exp)
    assert len(exp) > 0, "fixture must contain at least one near-dup pair"


def test_kmeans_distributed_trainer(spark):
    """The distributed Lloyd trainer (per-partition sufficient statistics,
    no bounded sample) yields a valid unit-norm codebook, is deterministic
    at fixed parallelism, and clusters an obviously-separable dataset."""
    import numpy as np
    from clinical_trial_searchengine_spark.operators.similarity import (
        kmeans_centroids_distributed,
    )

    rng = np.random.default_rng(7)
    # two tight antipodal clusters on the sphere
    a = rng.standard_normal(8)
    a /= np.linalg.norm(a)
    pts = np.vstack(
        [a + 0.05 * rng.standard_normal(8) for _ in range(150)]
        + [-a + 0.05 * rng.standard_normal(8) for _ in range(150)]
    )
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    ).repartition(6)
    C1 = kmeans_centroids_distributed(emb, n_centroids=2, iters=8)
    C2 = kmeans_centroids_distributed(emb, n_centroids=2, iters=8)
    assert C1.shape == (2, 8)
    assert np.allclose(np.linalg.norm(C1, axis=1), 1.0)
    assert np.allclose(C1, C2)  # deterministic
    # centroids land on the two cluster directions (in some order)
    cos = np.abs(C1 @ a)
    assert (cos > 0.98).all()
    assert (C1[0] @ a) * (C1[1] @ a) < 0  # opposite sides


def test_lsh_gate_corpus_projections_far_from_zero():
    """Guard for the ann_cosine_topk lsh-variant oracle: the plane WEIGHTS
    are bit-exact across engines (md5-derived, every step exact in IEEE
    double), but the sign BUCKETS come from dot products whose summation
    order differs between NumPy matmul (Spark side) and DuckDB's SUM
    aggregate — a projection within a few ulps of zero could flip a
    bucket bit between the two engines and flake the gate.  Assert that
    on the actual gate corpora (testdata embeddings, gate parameters
    n_planes=10 / seed=42) every projection magnitude sits orders of
    magnitude above the worst-case summation-error bound, so no
    reordering of the sum can cross zero."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from clinical_trial_searchengine_spark.operators.similarity import (
        lsh_planes,
    )

    checked = 0
    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        if not os.path.exists(path):
            continue
        tbl = pq.read_table(path, columns=["embedding"])
        M = np.vstack(tbl.column("embedding").to_pylist()).astype(np.float64)
        planes = lsh_planes(M.shape[1], n_planes=10, seed=42)
        proj = M @ planes.T
        # worst-case |error| of ANY summation order of d products:
        # (d-1) * eps * sum(|terms|)  (standard recursive-sum bound)
        eps = np.finfo(np.float64).eps
        bound = (M.shape[1] - 1) * eps * (np.abs(M) @ np.abs(planes).T)
        min_margin = (np.abs(proj) / np.maximum(bound, 1e-300)).min()
        assert min_margin > 1e3, (
            f"{sf}: projection within {min_margin:.1f}x of the summation "
            "error bound - bucket bits not engine-stable"
        )
        checked += 1
    assert checked, "no testdata embeddings found to guard"

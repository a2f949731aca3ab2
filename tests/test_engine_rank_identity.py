"""End-to-end rank identity: distributed engine == single-node oracle on the
20-query reference set, for both analyzer modes and both scoring kernels
(FIXTURES.md §3; the analogue of the reference's ranx evaluation,
reference: backend/evaluation/evaluation_pipeline.py:122-146, but exact)."""

from __future__ import annotations

import pytest

from clinical_trial_searchengine_spark.sources.corpus import reference_queries
from tests.oracle import BM25Oracle

TOL = 1e-9


def _assert_rank_identical(expected, got, qid, tol=TOL):
    assert [d for d, _ in expected] == [d for d, _ in got], (
        f"{qid}: docIDs differ\n exp={expected[:5]}\n got={got[:5]}"
    )
    for (d, es), (_, gs) in zip(expected, got):
        assert abs(es - gs) <= tol, f"{qid} doc {d}: {es} != {gs}"


def _plan_nodes(df) -> list[str]:
    """Node names of ``df``'s executed physical plan, through AQE and
    query-stage wrappers but not into a cached relation's own build plan
    (an InMemoryTableScan is a leaf here)."""
    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        names = [node.nodeName()]
        if cls.endswith("QueryStageExec"):
            return names + walk(node.plan())
        kids = node.children()
        for i in range(kids.size()):
            names += walk(kids.apply(i))
        return names

    return walk(df._jdf.queryExecution().executedPlan())


@pytest.fixture(scope="module")
def oracle_standard(small_corpus_pdf):
    return BM25Oracle(small_corpus_pdf, mode="standard")


@pytest.fixture(scope="module")
def oracle_porter(small_corpus_pdf):
    return BM25Oracle(small_corpus_pdf, mode="porter")


def test_rank_identity_standard(built_index, oracle_standard):
    for q in reference_queries():
        exp = oracle_standard.search(q["text"], q["k"])
        got = built_index.search_topk_rows(q["text"], q["k"])
        _assert_rank_identical(exp, got, q["query_id"])


def test_rank_identity_wand(built_index, oracle_standard):
    """B6 equivalence: the demoted doc-at-a-time Python WAND ('wand_ref',
    test-only oracle) == oracle."""
    for q in reference_queries():
        exp = oracle_standard.search(q["text"], q["k"])
        got = built_index.search_topk_rows(q["text"], q["k"], kernel="wand_ref")
        _assert_rank_identical(exp, got, q["query_id"])


def test_unknown_kernel_raises(built_index):
    with pytest.raises(ValueError, match="exhaustive.*pruned.*wand_ref"):
        built_index.search("def license", 10, kernel="bogus")


def test_rank_identity_pruned(built_index, oracle_standard):
    """Vectorized block-max pruned kernel == exhaustive == oracle on the
    whole reference set (bit-identical scores: same term-sorted summation
    order after pruning)."""
    for q in reference_queries():
        exp = oracle_standard.search(q["text"], q["k"])
        got = built_index.search_topk_rows(q["text"], q["k"], kernel="pruned")
        _assert_rank_identical(exp, got, q["query_id"])


@pytest.mark.parametrize(
    "shape", ["cold", "warm_decoded", "past_cap", "df_lookup"]
)
def test_rank_identity_norms_shapes(spark, built_index, oracle_standard,
                                    shape, monkeypatch):
    """Both scoring shapes — decoded (JVM) and cogroup — and both
    df-lookup modes: search (default and pruned), search_many and
    search_many_rows == oracle, scores bit for bit.  past_cap forces the
    decoded-postings cap to 0, so a warmed handle runs the cogroup shape;
    df_lookup forces the term dictionary preload cap to 0, so dfs come
    from per-query lookups (and the cap counts postings by aggregate)."""
    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.plans import query as qmod

    if shape == "past_cap":
        monkeypatch.setattr(qmod, "_DECODED_POSTINGS_CAP", 0)
    elif shape == "df_lookup":
        monkeypatch.setattr(qmod, "_PRELOAD_TERMS_CAP", 0)
    eng = SearchEngine(spark, built_index.index_dir)
    handle = eng.handle()
    if shape != "cold":
        handle.warm()
    assert (handle.decoded is not None) == (
        shape in ("warm_decoded", "df_lookup")
    )
    assert handle._df_preloaded == (shape in ("warm_decoded", "past_cap"))
    try:
        qs = reference_queries()
        exp = {q["query_id"]: oracle_standard.search(q["text"], q["k"])
               for q in qs}
        for q in qs:
            qid = q["query_id"]
            for kernel in (None, "pruned"):
                got = eng.search_topk_rows(q["text"], q["k"], kernel=kernel)
                _assert_rank_identical(exp[qid], got,
                                       f"{shape}/{qid}/{kernel}", tol=0.0)
        texts = {q["query_id"]: q["text"] for q in qs}
        kmax = max(q["k"] for q in qs)
        rows = eng.search_many_rows(texts, k=kmax)
        batch: dict = {qid: [] for qid in texts}
        for r in eng.search_many(texts, k=kmax).collect():
            batch[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
        for q in qs:
            qid, k = q["query_id"], q["k"]
            _assert_rank_identical(exp[qid], rows[qid][:k],
                                   f"{shape}/rows/{qid}", tol=0.0)
            many = [(d, s) for _, d, s in sorted(batch[qid])][:k]
            _assert_rank_identical(exp[qid], many, f"{shape}/many/{qid}",
                                   tol=0.0)
    finally:
        handle.close()


def test_warm_caches_only_the_decoded_relation(spark, built_index):
    """warm() leaves the postings and norms parquet scans uncached and
    caches one relation, the decoded postings."""
    from pyspark import StorageLevel

    from clinical_trial_searchengine_spark.engine import SearchEngine

    handle = SearchEngine(spark, built_index.index_dir).warm().handle()
    try:
        assert handle.postings.storageLevel == StorageLevel.NONE
        assert handle.norms.storageLevel == StorageLevel.NONE
        assert handle.decoded.storageLevel != StorageLevel.NONE
    finally:
        handle.close()


def test_decoded_search_plan_is_jvm_only_one_job(spark, built_index):
    """A warmed, plan-cached search on the decoded shape runs in plain
    plan nodes — cached scan, broadcast join, aggregate with no exchange,
    TakeOrderedAndProject, no Python node — and one job per repeat."""
    from clinical_trial_searchengine_spark.engine import SearchEngine

    eng = SearchEngine(spark, built_index.index_dir).warm()
    try:
        df = eng.search("def license import", 10)
        df.collect()  # first run: AQE materializes the cached-table stage
        nodes = _plan_nodes(df)
        assert "InMemoryTableScan" in nodes, nodes
        assert "TakeOrderedAndProject" in nodes, nodes
        assert "Exchange" not in nodes, nodes  # only BroadcastExchange
        python = {"FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                  "ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                  "MapInPandas"}
        assert not python & set(nodes), nodes
        sc = spark.sparkContext
        sc.setJobGroup("decoded_one_job", "repeat of a cached plan")
        try:
            assert eng.search("def license import", 10) is df
            df.collect()
            jobs = sc.statusTracker().getJobIdsForGroup("decoded_one_job")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(jobs) == 1, jobs
    finally:
        eng.handle().close()


def test_decoded_filter_and_boost_match_fallback_and_kernel(
    spark, built_index, monkeypatch
):
    """On the decoded shape, a pushed filter (allow-mask join) and a
    pushed boost (multiplier join) return the same rows and scores as the
    score-everything + join fallback and as the Python exhaustive kernel
    with the same pushdowns; a set mixing filtered and unfiltered queries
    keeps every row of the unfiltered one."""
    from pyspark.sql import functions as F

    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.plans import query as q
    from clinical_trial_searchengine_spark.plans import segments as seg

    dm = spark.read.parquet(seg.path_of(built_index.index_dir, seg.DOC_META))
    flt = dm.where(F.col("doc_id") % 2 == 0).select("doc_id")
    boost = dm.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, 2.5)
        .when(F.col("doc_id") % 7 == 0, 0.4)
        .otherwise(1.0).alias("_boost"),
    )
    eng = SearchEngine(spark, built_index.index_dir).warm()
    assert eng.handle().decoded is not None

    def rows(kernel=None, **kw):
        return [(r["doc_id"], r["score"])
                for r in eng.search("def license", 10, kernel=kernel,
                                    **kw).collect()]

    try:
        for kw in ({"filter_doc_ids": flt}, {"boost": boost},
                   {"boost": boost, "filter_doc_ids": flt}):
            decoded = rows(**kw)
            assert decoded and decoded == rows(kernel="exhaustive", **kw)
            monkeypatch.setattr(q, "_FILTER_PUSH_CAP", 0)
            monkeypatch.setattr(q, "_BOOST_PUSH_CAP", 0)
            assert decoded == rows(**kw), kw.keys()
            monkeypatch.undo()
        texts = {"filtered": "def license", "plain": "def license"}
        got = eng.search_many_rows(texts, k=10, filters={"filtered": flt})
        assert got["plain"] == rows()
        assert got["filtered"] == rows(filter_doc_ids=flt)
    finally:
        eng.handle().close()


def test_plan_cache_is_lru(spark, built_index, monkeypatch):
    """search()'s plan cache evicts the least recently used plan: with
    room for two, a plan used again survives a third insert."""
    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.plans import query as q

    monkeypatch.setattr(q, "_PLAN_CACHE_CAP", 2)
    eng = SearchEngine(spark, built_index.index_dir)
    a = eng.search("def license", 10)
    b = eng.search("the import", 10)
    assert eng.search("def license", 10) is a  # hit: now most recent
    eng.search("return def", 10)  # third plan evicts "the import"
    assert len(eng.handle()._plan_cache) == 2
    assert eng.search("def license", 10) is a
    assert eng.search("the import", 10) is not b


def test_plan_cache_concurrent_use(spark, built_index, monkeypatch):
    """Serving threads share one handle: concurrent hits, inserts and
    evictions never raise, never return another key's plan, and keep the
    cache within its cap."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.plans import query as q

    # 3 keys over room for 2: nearly every call evicts, so a hit's
    # check-then-move races an eviction unless the map updates are locked
    monkeypatch.setattr(q, "_PLAN_CACHE_CAP", 2)
    handle = SearchEngine(spark, built_index.index_dir).handle()

    def work(seed):
        for i in range(5000):
            key = (seed + i) % 3
            assert handle._cached_plan(key, lambda: ("plan", key)) == (
                "plan", key,
            )

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as ex:
            for f in [ex.submit(work, s) for s in range(16)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert len(handle._plan_cache) <= 2


def test_rank_identity_porter(built_index_porter, oracle_porter):
    for q in reference_queries():
        exp = oracle_porter.search(q["text"], q["k"])
        got = built_index_porter.search_topk_rows(q["text"], q["k"])
        _assert_rank_identical(exp, got, q["query_id"])


def test_empty_and_nohit_queries(built_index):
    assert built_index.search_topk_rows("zzznohit qqqmissing", 10) == []
    assert built_index.search_topk_rows("", 10) == []
    # standard mode keeps stopwords: 'the' is a real (hot) term
    assert len(built_index.search_topk_rows("the", 5)) == 5


def test_stopword_only_query_porter(built_index_porter):
    assert built_index_porter.search_topk_rows("the of and is to", 10) == []


def test_include_meta_join(built_index, small_corpus_pdf):
    rows = built_index.search("def license", 5, include_meta=True).collect()
    assert len(rows) == 5
    sorted_pdf = small_corpus_pdf.sort_values(
        ["repo", "path", "commit"]
    ).reset_index(drop=True)
    for r in rows:
        src = sorted_pdf.iloc[r["doc_id"]]
        assert (r["repo"], r["path"], r["commit"]) == (
            src["repo"], src["path"], src["commit"],
        )


def test_filter_context(built_index, spark):
    """B4/F2: filters restrict membership but never change scores."""
    from pyspark.sql import functions as F
    from clinical_trial_searchengine_spark.plans import segments as seg

    dm = spark.read.parquet(
        seg.path_of(built_index.index_dir, seg.DOC_META)
    )
    allowed = dm.where(F.col("lang") == "python").select("doc_id")
    allowed_ids = {r["doc_id"] for r in allowed.collect()}
    got = built_index.search(
        "def license", 10, filter_doc_ids=allowed
    ).collect()
    assert got, "filtered search returned nothing"
    assert all(r["doc_id"] in allowed_ids for r in got)
    # scores unchanged vs unfiltered scoring of the same docs
    full = {
        r["doc_id"]: r["score"]
        for r in built_index.search_all("def license").collect()
    }
    for r in got:
        assert abs(full[r["doc_id"]] - r["score"]) <= TOL


def test_filter_pushdown_matches_fallback(built_index, spark, monkeypatch):
    """The kernel allow-mask pushdown (selective filters) is rank- and
    score-identical to the score-everything + semi-join fallback, on both
    adaptive kernels; an empty filter yields an empty result."""
    from pyspark.sql import functions as F
    from clinical_trial_searchengine_spark.plans import query as q
    from clinical_trial_searchengine_spark.plans import segments as seg

    dm = spark.read.parquet(seg.path_of(built_index.index_dir, seg.DOC_META))
    allowed = dm.where(F.col("lang") == "python").select("doc_id")

    def run(text, k):
        return [
            (r["doc_id"], r["score"])
            for r in built_index.search(
                text, k, filter_doc_ids=allowed
            ).collect()
        ]

    for text, k in [("def license", 10), ("the", 5), ("import tokens", 10)]:
        monkeypatch.setattr(q, "_FILTER_PUSH_CAP", 1 << 18)
        pushed = run(text, k)
        monkeypatch.setattr(q, "_FILTER_PUSH_CAP", 0)  # force fallback
        fallback = run(text, k)
        assert pushed == fallback and pushed, (text, pushed[:3], fallback[:3])

    monkeypatch.setattr(q, "_FILTER_PUSH_CAP", 1 << 18)
    empty = allowed.where(F.lit(False))
    assert built_index.search("def license", 10,
                              filter_doc_ids=empty).collect() == []

    # every kernel honors the allow-mask identically (wand_ref is the
    # test-only oracle; pruned/exhaustive are the production pair)
    handle = built_index.handle()
    qtf = q.analyze_query("def license", handle.meta["mode"])
    per_kernel = [
        sorted(
            [
                (r["doc_id"], r["score"])
                for r in q._candidates(
                    handle, {"q": qtf}, 10, kernel=kn,
                    filters={"q": allowed},
                ).collect()
            ],
            key=lambda t: (-t[1], t[0]),
        )[:10]
        for kn in ("exhaustive", "pruned", "wand_ref")
    ]
    assert per_kernel[0] and per_kernel[0] == per_kernel[1] == per_kernel[2]


def test_function_score_boost(built_index, spark):
    """B3 on the segment path: boosted ranking == boost applied to the
    exhaustive all-match scores, exact before the limit."""
    from pyspark.sql import functions as F
    from clinical_trial_searchengine_spark.plans import segments as seg

    dm = spark.read.parquet(seg.path_of(built_index.index_dir, seg.DOC_META))
    boost = dm.select(
        "doc_id",
        F.when(F.col("lang") == "python", 2.0).otherwise(1.0).alias("_boost"),
    )
    boost_map = {r["doc_id"]: r["_boost"] for r in boost.collect()}
    got = built_index.search("def license", 10, boost=boost).collect()
    full = {
        r["doc_id"]: r["score"]
        for r in built_index.search_all("def license").collect()
    }
    exp = sorted(
        ((d, s * boost_map[d]) for d, s in full.items()),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]
    for r, (d, s) in zip(got, exp):
        assert abs(r["score"] - s) <= TOL


def test_boost_pushdown_matches_join_path(built_index, spark, monkeypatch):
    """The kernel-pushed boost path (B3 pushdown) is row-identical to the
    score-everything + join fallback, alone and combined with a pushed
    filter context; edge-valued boost tables (zero multiplier) fall back
    and keep join semantics."""
    from pyspark.sql import functions as F
    from clinical_trial_searchengine_spark.plans import query as q
    from clinical_trial_searchengine_spark.plans import segments as seg

    dm = spark.read.parquet(seg.path_of(built_index.index_dir, seg.DOC_META))
    boost = dm.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, 2.5)
        .when(F.col("doc_id") % 7 == 0, 0.4)
        .otherwise(1.0)
        .alias("_boost"),
    )
    flt = dm.where(F.col("doc_id") % 2 == 0).select("doc_id")

    def rows(**kw):
        return [
            (r["doc_id"], round(r["score"], 9))
            for r in built_index.search("def license", 10, **kw).collect()
        ]

    for kw in (
        {"boost": boost},
        {"boost": boost, "filter_doc_ids": flt},
    ):
        pushed = rows(**kw)
        monkeypatch.setattr(q, "_BOOST_PUSH_CAP", 0)
        fallback = rows(**kw)
        monkeypatch.undo()
        assert pushed and pushed == fallback, kw.keys()

    # zero multiplier: pushdown declines (join keeps the 0-score row
    # semantics); result must equal the explicit fallback either way
    zboost = boost.withColumn(
        "_boost", F.when(F.col("doc_id") == 0, 0.0).otherwise(F.col("_boost"))
    )
    pushed = rows(boost=zboost)
    monkeypatch.setattr(q, "_BOOST_PUSH_CAP", 0)
    assert pushed == rows(boost=zboost)
    monkeypatch.undo()


def test_multifield_engine_matches_dataframe_path(
    spark, small_corpus_df, tmp_path_factory
):
    """B2 on the segment path: per-field sub-indexes + dis_max merge is
    rank-identical to the pure-DataFrame bm25_multifield_topk (which the
    DuckDB oracle gates)."""
    from clinical_trial_searchengine_spark.plans.dataframe_bm25 import (
        bm25_multifield_topk,
    )
    from clinical_trial_searchengine_spark.plans.multifield import (
        build_multifield_index,
        search_multifield,
    )

    d = str(tmp_path_factory.mktemp("mf") / "idx")
    fields = {"head": "substring(content, 1, 80)", "body": "content"}
    build_multifield_index(
        spark, small_corpus_df, d, fields=fields,
        shard_size=48, hot_df_threshold=40,
    )
    got = search_multifield(
        spark, d, "def license import",
        boosts={"head": 3.0, "body": 1.0}, k=10, round_to=6,
    ).collect()
    exp = bm25_multifield_topk(
        small_corpus_df.selectExpr(
            "row_number() over (order by repo, path, commit) - 1 as doc_id",
            "content",
        ),
        {"def": 1.0, "license": 1.0, "import": 1.0},
        [("substring(content, 1, 80)", 3.0), ("content", 1.0)],
        k=10, round_to=6,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in exp
    ]


def test_search_many_matches_per_query(built_index, oracle_standard):
    """Batch execution (one job for the whole query set) must be
    rank-identical per query to the oracle."""
    qs = {q["query_id"]: q["text"] for q in reference_queries()[:8]}
    batch = built_index.search_many(qs, k=10).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid, text in qs.items():
        rows = sorted(got.get(qid, []))
        _assert_rank_identical(
            oracle_standard.search(text, 10), [(d, s) for _, d, s in rows], qid
        )


def test_search_many_per_query_filters_and_boosts(
    built_index, spark, monkeypatch
):
    """B3/B4 on the batch path: per-query filter contexts and boost maps
    in search_many/search_many_rows are rank-identical to individual
    search() calls — through the pushed batch kernel AND through the
    forced single-query fallback (caps at 0)."""
    from pyspark.sql import functions as F
    from clinical_trial_searchengine_spark.plans import query as q
    from clinical_trial_searchengine_spark.plans import segments as seg

    dm = spark.read.parquet(seg.path_of(built_index.index_dir, seg.DOC_META))
    flt_even = dm.where(F.col("doc_id") % 2 == 0).select("doc_id")
    flt_none = dm.where(F.col("doc_id") < 0).select("doc_id")  # empty
    boost = dm.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, 3.0).otherwise(1.0).alias("_boost"),
    )
    texts = {
        "plain": "def license",
        "filtered": "def license",
        "boosted": "the license import",
        "both": "def return import",
        "empty_flt": "def license",
    }
    filters = {"filtered": flt_even, "both": flt_even, "empty_flt": flt_none}
    boosts = {"boosted": boost, "both": boost}

    def singles():
        return {
            qid: built_index.search_topk_rows(
                t, k=10,
                filter_doc_ids=filters.get(qid), boost=boosts.get(qid),
            )
            for qid, t in texts.items()
        }

    exp = singles()
    assert exp["empty_flt"] == [] and exp["filtered"] and exp["both"]

    for force_fallback in (False, True):
        if force_fallback:
            monkeypatch.setattr(q, "_FILTER_PUSH_CAP", 0)
            monkeypatch.setattr(q, "_BOOST_PUSH_CAP", 0)
        rows = built_index.search_many_rows(
            texts, k=10, filters=filters, boosts=boosts
        )
        assert rows == exp, f"rows path, fallback={force_fallback}"
        batch = built_index.search_many(
            texts, k=10, filters=filters, boosts=boosts
        ).collect()
        got: dict = {qid: [] for qid in texts}
        for r in batch:
            got[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
        got = {qid: [(d, s) for _, d, s in sorted(v)] for qid, v in got.items()}
        assert got == exp, f"df path, fallback={force_fallback}"
        monkeypatch.undo()


def test_search_many_fallback_is_one_job_not_a_search_loop(
    built_index, spark, monkeypatch
):
    """Round-4 verdict #3: oversized-table queries used to be served one
    search() Spark job each in a driver loop.  Force every query into
    fallback and assert the batch paths never call search() at all —
    the whole fallback set rides one kernel job."""
    from pyspark.sql import functions as F
    from clinical_trial_searchengine_spark.plans import query as q
    from clinical_trial_searchengine_spark.plans import segments as seg

    dm = spark.read.parquet(seg.path_of(built_index.index_dir, seg.DOC_META))
    flt = dm.where(F.col("doc_id") % 2 == 0).select("doc_id")
    texts = {"a": "def license", "b": "the import", "c": "return def"}
    filters = {"a": flt, "b": flt, "c": flt}
    monkeypatch.setattr(q, "_FILTER_PUSH_CAP", 0)

    def _boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("fallback degraded to a per-query search loop")

    monkeypatch.setattr(q, "search", _boom)
    rows = built_index.search_many_rows(texts, k=5, filters=filters)
    assert all(rows[qid] for qid in texts)
    batch = built_index.search_many(texts, k=5, filters=filters).collect()
    assert {r["query_id"] for r in batch} == set(texts)


def test_search_many_dup_boost_ids_route_through_batched_fallback(
    built_index, spark
):
    """A boost table with duplicate doc_ids has join-defined semantics
    (each duplicate row multiplies into the scored set), so
    _prepare_pushdowns sends it to the fallback WITHOUT any cap tweaking.
    The batched fallback must reproduce the single-query join path's
    rows exactly."""
    from pyspark.sql import functions as F
    from clinical_trial_searchengine_spark.plans import segments as seg

    dm = spark.read.parquet(seg.path_of(built_index.index_dir, seg.DOC_META))
    some = dm.select("doc_id").limit(6)
    dup_boost = (
        some.withColumn("_boost", F.lit(2.0))
        .unionByName(some.withColumn("_boost", F.lit(3.0)))
    )  # every id twice, different multipliers -> join semantics only
    texts = {"q_dup": "def license", "q_plain": "the import"}
    boosts = {"q_dup": dup_boost}
    exp = {
        qid: built_index.search_topk_rows(t, k=8, boost=boosts.get(qid))
        for qid, t in texts.items()
    }
    rows = built_index.search_many_rows(texts, k=8, boosts=boosts)
    assert rows == exp
    got = built_index.search_many(texts, k=8, boosts=boosts).collect()
    by_q: dict = {qid: [] for qid in texts}
    for r in got:
        by_q[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
    by_q = {q: [(d, s) for _, d, s in sorted(v)] for q, v in by_q.items()}
    assert by_q == exp

"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship BM25 top-k on sf0.001.
`queries()` — one entry per implemented operator family from SURVEY.md §2
plus the training-data-pipeline operators (dedup / similarity / text
analysis / multimodal plumbing).
`oracle_sql()` — DuckDB-equivalent SQL for every SQL-expressible query.

Column names and float rounding are aligned between both sides (the driver
hashes values after sorting columns by name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_trial_searchengine_spark.plans.dataframe_bm25 import (
    bm25_oracle_sql,
    bm25_topk,
)

_DOCS = "documents.parquet"
_Q_TERMS = {"merge": 1.0, "join": 1.0, "filter": 1.0}

_STOP12 = "'the','a','an','and','or','of','to','in','is','it','that','for'"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _embedding_dim(sf_dir: str) -> int:
    """Embedding width at this sf (the LSH oracle's plane CTE needs it as
    a literal).  Read from parquet metadata-light single-row-group load."""
    import pyarrow.parquet as pq

    t = pq.ParquetFile(f"{sf_dir}/embeddings.parquet").read_row_group(
        0, columns=["embedding"]
    )
    return len(t.column("embedding")[0].as_py())


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return bm25_topk(docs, _Q_TERMS, k=10)


# ---------------------------------------------------------------------------
# Query implementations (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------


def _q_bm25_suite(spark, sf_dir):
    """DataFrame-path BM25 shapes folded into ONE gate (driver-window
    economy, VERDICT r3 task #1): plain top-k (B1), multiplicative
    function-score (B3, reference: backend/api/main.py:293-314), and exact
    filter context (B4) — variant-tagged union, one oracle."""
    docs = _t(spark, sf_dir, "documents")
    plain = bm25_topk(docs, _Q_TERMS, k=10)
    boost = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.15).otherwise(1.0).alias("_boost"),
    )
    boosted = bm25_topk(docs, _Q_TERMS, k=10, boost=boost)
    filtered = bm25_topk(
        docs, _Q_TERMS, k=10,
        filter_df=docs.where(F.col("lang") == "en").select("doc_id"),
    )
    return (
        plain.select(F.lit("plain").alias("variant"), "doc_id", "score")
        .unionByName(
            boosted.select(F.lit("boost").alias("variant"), "doc_id", "score")
        )
        .unionByName(
            filtered.select(
                F.lit("filter").alias("variant"), "doc_id", "score"
            )
        )
    )


def _q_engine_bm25_topk(spark, sf_dir):
    """The REAL segment engine (build -> compressed postings -> distributed
    scoring) gated against the same DuckDB BM25 oracle."""
    eng = _engine_for(spark, sf_dir)
    scored = eng.search_all("merge join filter")
    return _engine_topk_as_orig_ids(spark, sf_dir, scored, k=10)


def _index_dir_for(sf_dir: str, mode: str = "standard") -> str:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    suffix = "" if mode == "standard" else f"_{mode}"
    return f"/tmp/ctse_driver_index{suffix}_{tag}"


def _engine_for(spark, sf_dir, mode: str = "standard"):
    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.sources.tables import (
        documents_as_corpus,
    )

    eng = SearchEngine(spark, _index_dir_for(sf_dir, mode))
    if not os.path.exists(os.path.join(eng.index_dir, "meta.json")):
        eng.build(
            documents_as_corpus(spark, sf_dir),
            mode=mode,
            shard_size=2048,
            hot_df_threshold=1000,
        )
    return eng


def _orig_id_map(spark, sf_dir, index_dir: str | None = None):
    """engine doc_id -> the documents table's numeric doc_id (engine ids
    rank by (repo, path, commit) where path='doc/<n>' sorts as a string)."""
    from clinical_trial_searchengine_spark.plans import segments as seg

    return spark.read.parquet(
        seg.path_of(index_dir or _index_dir_for(sf_dir), seg.DOC_META)
    ).select(
        "doc_id",
        F.expr("cast(substring(path, 5, 100) as long)").alias("orig_doc_id"),
    )


def _engine_topk_as_orig_ids(spark, sf_dir, scored, k=10, index_dir=None):
    """Remap to original ids, round, THEN take top-k — the oracle orders by
    (rounded score, numeric id), which differs from the engine's internal
    (raw score, engine id) order exactly at score ties, so the engine side
    must over-fetch and re-rank in oracle order (see the k=50 call sites)."""
    return (
        scored.join(_orig_id_map(spark, sf_dir, index_dir), "doc_id")
        .select(
            F.col("orig_doc_id").alias("doc_id"),
            F.round("score", 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _q_engine_bm25_wand(spark, sf_dir):
    """B6: block-max dynamic pruning against the SAME DuckDB BM25 oracle.
    Exercises BOTH the production vectorized block-max kernel ('pruned')
    and the demoted doc-at-a-time Python reference ('wand_ref', test-only
    oracle)
    — driver-verified pruned == wand_ref == SQL oracle.  Over-fetch k=50
    so a raw-score tie at the engine's cut cannot flip the oracle-ordered
    top-10."""
    eng = _engine_for(spark, sf_dir)
    pruned = _engine_topk_as_orig_ids(
        spark, sf_dir, eng.search("merge join filter", k=50, kernel="pruned")
    )
    ref = _engine_topk_as_orig_ids(
        spark, sf_dir,
        eng.search("merge join filter", k=50, kernel="wand_ref"),
    )
    got = pruned.exceptAll(ref)
    if got.head(1):
        raise AssertionError("pruned and wand_ref kernels disagree")
    return pruned


def _q_engine_bm25_filtered(spark, sf_dir):
    """B4 on the SEGMENT path: exact filter context (membership only,
    scores unchanged, applied before the limit)."""
    from clinical_trial_searchengine_spark.plans import segments as seg

    eng = _engine_for(spark, sf_dir)
    dm = spark.read.parquet(seg.path_of(eng.index_dir, seg.DOC_META))
    keep = dm.where(F.col("lang") == "en").select("doc_id")
    scored = eng.search("merge join filter", k=50, filter_doc_ids=keep)
    return _engine_topk_as_orig_ids(spark, sf_dir, scored, k=10)


def _q_engine_batch_queries(spark, sf_dir):
    """search_many: whole query set in ONE job; oracle = per-query BM25
    SQL stitched with UNION ALL.  Over-fetch (k=25) then re-rank in oracle
    order per query — see _engine_topk_as_orig_ids."""
    from pyspark.sql import Window

    eng = _engine_for(spark, sf_dir)
    out = eng.search_many(
        {"qa": "merge join filter", "qb": "index scan", "qc": "parallel"},
        k=25,
    )
    return (
        out.join(_orig_id_map(spark, sf_dir), "doc_id")
        .select(
            "query_id",
            F.col("orig_doc_id").alias("doc_id"),
            F.round("score", 4).alias("score"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("score"), F.asc("doc_id")
                )
            ),
        )
        .where(F.col("rank") <= 5)
    )


def _q_engine_bm25_function_score(spark, sf_dir):
    """B3 on the SEGMENT path: multiplicative function-score applied after
    BM25, exact (all matches scored + multiplied before the limit;
    reference: backend/api/main.py:293-314).  Over-fetch k=50 so the oracle's
    (rounded score, numeric id) order at ties is reproducible."""
    from clinical_trial_searchengine_spark.plans import segments as seg

    eng = _engine_for(spark, sf_dir)
    dm = spark.read.parquet(seg.path_of(eng.index_dir, seg.DOC_META))
    boost = dm.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.15).otherwise(1.0).alias("_boost"),
    )
    scored = eng.search("merge join filter", k=50, boost=boost)
    return _engine_topk_as_orig_ids(spark, sf_dir, scored, k=10)


_MF_FIELDS = {"title": "substring(content, 1, 120)", "body": "content"}
_MF_BOOSTS = {"title": 3.0, "body": 1.0}


def _q_engine_bm25_multifield(spark, sf_dir):
    """B2 on the SEGMENT path: per-field sub-indexes (own df/dl/avgdl per
    field, Lucene multi_match best_fields semantics) merged with dis_max
    (reference: backend/api/main.py:213-232)."""
    from clinical_trial_searchengine_spark.plans.multifield import (
        MF_META,
        build_multifield_index,
        field_dir,
        search_multifield,
    )
    from clinical_trial_searchengine_spark.sources.tables import (
        documents_as_corpus,
    )

    idx = _index_dir_for(sf_dir, "mf")
    if not os.path.exists(os.path.join(idx, MF_META)):
        build_multifield_index(
            spark, documents_as_corpus(spark, sf_dir), idx,
            fields=_MF_FIELDS, shard_size=2048, hot_df_threshold=1000,
        )
    scored = search_multifield(
        spark, idx, "merge join filter", boosts=_MF_BOOSTS, k=50
    )
    return _engine_topk_as_orig_ids(
        spark, sf_dir, scored, k=10, index_dir=field_dir(idx, "body")
    )


_DRIVER_SF_DIR = "/root/testdata/sf0.01"  # the driver's oracle sf
_PORTER_QUERY = "merging joins filtering"


def _porter_side_path(sf_dir: str) -> str:
    """Porter-token side table, SCOPED to the corpus that wrote it (every
    other gate artifact is sf-tagged; an unscoped path let an oracle read
    a token stream materialized for a different corpus)."""
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return f"/tmp/ctse_porter_oracle_tokens_{tag}.parquet"


def _q_engine_bm25_porter(spark, sf_dir):
    """North-rule analyzer chain (tokenize -> stopwords -> Porter) on the
    segment engine, now with a REAL DuckDB oracle: the Porter-stemmed token
    stream is materialized to a parquet side table by the INDEPENDENT
    scalar analyzer (``tokenize_text`` — golden-vector-tested in
    tests/test_analysis.py, a different code path from the engine's
    vectorized Arrow build kernel), and the oracle computes BM25 in SQL
    over that stream.  DuckDB itself cannot stem offline (fts extension
    needs a download), hence the side table."""
    import pandas as pd

    from clinical_trial_searchengine_spark.functions.analysis import (
        tokenize_text,
    )

    eng = _engine_for(spark, sf_dir, mode="porter")
    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    ids, terms = [], []
    for did, txt in zip(docs["doc_id"], docs["text"]):
        for t in tokenize_text(txt, "porter"):
            ids.append(int(did))
            terms.append(t)
    pd.DataFrame({"doc_id": ids, "term": terms}).to_parquet(
        _porter_side_path(sf_dir), index=False
    )
    scored = eng.search(_PORTER_QUERY, k=50)
    return _engine_topk_as_orig_ids(
        spark, sf_dir, scored, k=10,
        index_dir=_index_dir_for(sf_dir, "porter"),
    )


def _porter_oracle_sql(k: int = 10, sf_dir: str = _DRIVER_SF_DIR) -> str:
    from clinical_trial_searchengine_spark.functions.analysis import (
        tokenize_text,
    )

    qterms = sorted(set(tokenize_text(_PORTER_QUERY, "porter")))
    values = ", ".join(f"('{t}', 1.0)" for t in qterms)
    side = _porter_side_path(sf_dir)
    return f"""
WITH tok AS (SELECT doc_id, term FROM read_parquet('{side}')),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(term, qtf) AS (VALUES {values}),
dfreq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf
  WHERE term IN (SELECT term FROM q) GROUP BY 1
),
scored AS (
  SELECT tf.doc_id,
         sum(q.qtf * ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)))
           AS raw
  FROM tf
  JOIN q USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1
)
SELECT doc_id, round(raw, 4) AS score FROM scored
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def _q_engine_incremental_append(spark, sf_dir):
    """S5 driver gate: delta-generation append must be score-identical to a
    full build — base index over ~80% of documents (deterministic
    crc32(path) split), the rest folded in via ``add_documents`` (gen=1
    segment set + re-merged exact global stats), then scored against the
    full-corpus DuckDB BM25 oracle.  The reference's upsert-then-refresh
    lifecycle (reference: backend/db/scrape_clinical_trials.py:464-557)
    as a driver-verified gate (previously pytest-only).
    """
    import hashlib

    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.sources.tables import (
        documents_as_corpus,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    idx = f"/tmp/ctse_driver_index_incr_{tag}"
    eng = SearchEngine(spark, idx)
    if not os.path.exists(os.path.join(idx, "meta.json")):
        corpus = documents_as_corpus(spark, sf_dir)
        delta = F.crc32(F.col("path")) % 5 == F.lit(0)
        kw = dict(shard_size=2048, hot_df_threshold=1000)
        eng.build(corpus.where(~delta), **kw)
        eng.add_documents(corpus.where(delta), **kw)
    scored = eng.search_all("merge join filter")
    # generation-aware remap: doc_meta_df() globalizes per-gen ids by base
    dm = eng.handle().doc_meta_df().select(
        "doc_id",
        F.expr("cast(substring(path, 5, 100) as long)").alias("orig_doc_id"),
    )
    return (
        scored.join(dm, "doc_id")
        .select(
            F.col("orig_doc_id").alias("doc_id"),
            F.round("score", 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


_UPSERT_MARKER = " zzupsertmarker merge join"


def _q_engine_incremental_upsert(spark, sf_dir):
    """S5 REPLACE semantics (VERDICT r3 task #3): one fifth of the corpus is
    re-committed with changed text and folded in via ``upsert_documents``
    (delta generation + tombstoned old versions, reference:
    backend/db/scrape_clinical_trials.py:332-462).  Pre-compaction the gate
    asserts queries serve ONLY the new versions (tombstone mask); after
    ``compact()`` scores must be oracle-exact against DuckDB BM25 over the
    UPDATED corpus — which is what this gate returns."""
    import hashlib

    from clinical_trial_searchengine_spark.engine import SearchEngine
    from clinical_trial_searchengine_spark.sources.tables import (
        documents_as_corpus,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    idx = f"/tmp/ctse_driver_index_ups_{tag}"
    eng = SearchEngine(spark, idx)
    orig_id = F.expr("cast(substring(path, 5, 100) as long)")
    if not os.path.exists(os.path.join(idx, "meta.json")):
        corpus = documents_as_corpus(spark, sf_dir)
        updated = corpus.withColumn(
            "content",
            F.when(
                orig_id % 5 == 0, F.concat("content", F.lit(_UPSERT_MARKER))
            ).otherwise(F.col("content")),
        ).withColumn(
            "commit",
            F.when(
                orig_id % 5 == 0, F.concat("commit", F.lit("ff"))
            ).otherwise(F.col("commit")),
        ).withColumn("content_sha256", F.sha2("content", 256))
        kw = dict(shard_size=2048, hot_df_threshold=1000)
        eng.build(corpus, **kw)
        out = eng.upsert_documents(updated, max_generations=None, **kw)
        n_mod = out["new_docs"]
        assert out["tombstones"] == n_mod, out
        # pre-compaction: the tombstone mask serves ONLY new versions
        hits = eng.search_all("zzupsertmarker").count()
        assert hits == n_mod, (hits, n_mod)
        from clinical_trial_searchengine_spark.plans import segments as seg

        tomb = set(seg.read_tombstones(idx))
        top = eng.search("merge join filter", k=50).collect()
        assert not any(r["doc_id"] in tomb for r in top)
        eng.compact(updated, **kw)
    scored = eng.search_all("merge join filter")
    return _engine_topk_as_orig_ids(spark, sf_dir, scored, k=10, index_dir=idx)


def _q_term_df_stats(spark, sf_dir):
    # A7: global df/cf via two-phase hash agg
    from clinical_trial_searchengine_spark.plans.dataframe_bm25 import tokens_df

    tok = tokens_df(_t(spark, sf_dir, "documents"))
    return (
        tok.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("cf"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    )


def _q_doc_token_stats(spark, sf_dir):
    from clinical_trial_searchengine_spark.functions.text import (
        token_count,
        word_token_count,
    )

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        word_token_count("text").alias("word_tokens"),
    )


def _q_content_hashes(spark, sf_dir):
    """sha256 row invariant + whitespace-normalized md5 fingerprint in ONE
    scan (merged from the former sha256_invariant + fingerprint_md5 gates:
    same documents grain, one projection — frees a driver-window slot so
    every oracled gate sits inside the ~50-row CORRECTNESS window)."""
    from clinical_trial_searchengine_spark.functions.text import fingerprint_md5

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.sha2("text", 256).alias("text_sha256"),
        fingerprint_md5("text").alias("fp"),
    )


def _q_quality_features(spark, sf_dir):
    from clinical_trial_searchengine_spark.functions.text import quality_features

    f = quality_features("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        f["n_words"].alias("n_words"),
        f["stopword_ratio"].alias("stopword_ratio"),
        f["punct_ratio"].alias("punct_ratio"),
        f["mean_word_len"].alias("mean_word_len"),
    )


def _q_dedup_exact_prefix(spark, sf_dir):
    # exact dedup (hash groupBy) on a 60-char prefix (the full texts are
    # unique in this corpus; the prefix has real collisions)
    from clinical_trial_searchengine_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 60).alias("prefix")
    )
    return exact_duplicates(docs, text_col="prefix", id_col="doc_id")


def _q_ngram_jaccard_pairs(spark, sf_dir):
    from clinical_trial_searchengine_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8, n=3
    )


def _q_minhash_lsh_dedup(spark, sf_dir):
    # MinHash+LSH candidates verified with exact Jaccard; at j>=0.8 with
    # 128 hashes / 32 bands recall is ~1-1e-7, so the exact-pairs SQL is a
    # valid oracle
    from clinical_trial_searchengine_spark.operators.dedup import (
        minhash_lsh_duplicates,
    )

    return minhash_lsh_duplicates(
        _t(spark, sf_dir, "documents"), threshold=0.8
    )


def _q_simhash_pairs(spark, sf_dir):
    from clinical_trial_searchengine_spark.operators.dedup import (
        simhash_duplicates,
    )

    return simhash_duplicates(_t(spark, sf_dir, "documents"), max_hamming=3)


def _q_lang_id_counts(spark, sf_dir):
    from clinical_trial_searchengine_spark.functions.text import lang_id

    return (
        _t(spark, sf_dir, "documents")
        .select(lang_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


def _q_substring_collapse(spark, sf_dir):
    # X15/X16: truncation + whitespace collapse
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower("text"), r"\s+", " "), 1, 80
        ).alias("norm_prefix"),
    )


def _q_ilike_scan(spark, sf_dir):
    # F10: substring scan filter
    return _t(spark, sf_dir, "documents").where(
        F.lower("text").contains("merge join")
    ).select("doc_id")


def _q_text_scan_suite(spark, sf_dir):
    """X15/X16 truncate+whitespace-collapse and F10 ILIKE scan, merged as
    a variant-tagged union (window-budget merge rule, see queries() doc —
    freed the slot for the newly-oracled simhash_pairs)."""
    c = _q_substring_collapse(spark, sf_dir).select(
        F.lit("collapse").alias("variant"),
        "doc_id",
        F.col("norm_prefix").alias("val"),
    )
    i = _q_ilike_scan(spark, sf_dir).select(
        F.lit("ilike").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("val"),
    )
    return c.unionByName(i)


def _q_point_lookup(spark, sf_dir):
    # S8: point lookup by stable key
    return _t(spark, sf_dir, "documents").where(F.col("doc_id") == 42).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _q_filter_range_membership(spark, sf_dir):
    # F2 (term) + F3 (membership) + F4 (range pair)
    o = _t(spark, sf_dir, "orders")
    return o.where(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_totalprice") >= 50000)
        & (F.col("o_totalprice") <= 100000)
        & (F.col("o_custkey") % 10 == 0)
    ).select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))


def _q_denorm_children(spark, sf_dir):
    # J1/A1: parent-children denormalization with ordered child concat
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("l_linenumber")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("line_numbers"),
    )
    return _t(spark, sf_dir, "orders").select("o_orderkey").join(
        agg, F.col("o_orderkey") == F.col("l_orderkey"), "inner"
    ).select("o_orderkey", "n_items", "sum_qty", "line_numbers")


def _q_semi_join_topk_fetch(spark, sf_dir):
    # T1 + J2: top-k then broadcast semi-join fetch
    from clinical_trial_searchengine_spark.operators.joins import fetch_by_topk_ids
    from clinical_trial_searchengine_spark.operators.topk import topk

    o = _t(spark, sf_dir, "orders")
    top = topk(o, "o_totalprice", 10, id_col="o_orderkey").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    return fetch_by_topk_ids(li, top, "l_orderkey").select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 2).alias("qty")
    )


def _q_rrf_fusion(spark, sf_dir):
    # J3/A4: reciprocal-rank fusion of two ranked customer lists
    from clinical_trial_searchengine_spark.operators.topk import (
        rank_column,
        rrf_fuse,
    )

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    by_bal = rank_column(
        c.select(F.col("c_custkey").alias("doc_id"), "c_acctbal"),
        "c_acctbal", id_col="doc_id",
    )
    by_orders = rank_column(
        o.groupBy(F.col("o_custkey").alias("doc_id")).agg(
            F.count("*").cast("double").alias("n_orders")
        ),
        "n_orders", id_col="doc_id",
    )
    fused = rrf_fuse([by_bal, by_orders], id_col="doc_id", k=60)
    return (
        fused.select(
            F.col("doc_id").alias("c_custkey"),
            F.round("rrf_score", 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("c_custkey"))
        .limit(20)
    )


def _q_minmax_norm(spark, sf_dir):
    # A3: min-max normalization
    from clinical_trial_searchengine_spark.operators.topk import minmax_normalize

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 200)
    return minmax_normalize(o, "o_totalprice").select(
        "o_orderkey", F.round("norm_score", 6).alias("norm_score")
    )


def _q_window_rank(spark, sf_dir):
    # J4-shape: per-group ranking window
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


def _q_rank_norm_suite(spark, sf_dir):
    """A3 min-max normalization + T2/T3 per-group ranking window, merged
    as a variant-tagged union so both stay inside the driver's 50-row
    CORRECTNESS window (same merge rule as bm25_suite)."""
    mn = _q_minmax_norm(spark, sf_dir).select(
        F.lit("minmax").alias("variant"),
        F.col("o_orderkey").cast("long").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.col("norm_score").cast("double").alias("val"),
    )
    wr = _q_window_rank(spark, sf_dir).select(
        F.lit("rank").alias("variant"),
        F.col("o_custkey").cast("long").alias("k1"),
        F.col("o_orderkey").cast("long").alias("k2"),
        F.col("rank").cast("double").alias("val"),
    )
    return mn.unionByName(wr)


# Deterministic normalized-condition-key synthesis for the synonym_expand
# gate: three key slots per document, dialect-shared CASE SQL (parses in
# both Spark SQL and DuckDB).  Slot collisions (doc_id % 24 == 0 repeats
# Lung_Cancer; slot 2 adds it a third time when doc_id % 5 == 4) exercise
# the case-insensitive ordered dedup; 'Unknown_Key' exercises the
# no-dictionary-entry drop; EGFR_Gene exercises a non-condition key
# (mapping.get is kind-agnostic in the reference rule).
_SYN_KEY_SLOTS = (
    "case doc_id % 8 when 0 then 'Lung_Cancer' when 1 then 'Breast_Cancer' "
    "when 2 then 'Melanoma' when 3 then 'Leukemia' when 4 then 'Diabetes' "
    "when 5 then 'Unknown_Key' when 6 then 'Colorectal_Cancer' "
    "else 'Hypertension' end",
    "case doc_id % 3 when 0 then 'Lung_Cancer' "
    "when 1 then 'Colorectal_Cancer' else 'Melanoma' end",
    "case doc_id % 5 when 0 then 'EGFR_Gene' when 1 then 'Breast_Cancer' "
    "when 2 then 'Leukemia' when 3 then 'Unknown_Key' "
    "else 'Lung_Cancer' end",
)


def _q_synonym_expand(spark, sf_dir):
    """U3 query-side synonym expansion (reference main.py:366-383,
    _expand_condition_synonyms_for_query) over a batch of synthesized
    normalized-condition key lists: first 3 synonyms per key, ordered
    case-insensitive dedup, capped at 7 terms."""
    from clinical_trial_searchengine_spark.functions.profile_query import (
        expand_query_synonyms_df,
    )
    from clinical_trial_searchengine_spark.functions.synonyms import (
        synonyms_df,
    )

    keys = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 400)
        .select(
            "doc_id",
            F.array(*[F.expr(s) for s in _SYN_KEY_SLOTS]).alias("keys"),
        )
    )
    return expand_query_synonyms_df(
        keys, "keys", synonyms_df(spark), ["doc_id"],
        max_terms=7, max_per_condition=3,
    )


def _q_events_hourly(spark, sf_dir):
    # streaming-analogue tumbling-window agg, run as batch
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


def _q_json_extract_props(spark, sf_dir):
    # X4-shape: regex numeric extraction from semi-structured text
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn(
            "k",
            F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("long"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def _q_set_ops_lang_tokens(spark, sf_dir):
    # U1/U2: distinct-token set union / intersection across two slices
    from clinical_trial_searchengine_spark.plans.dataframe_bm25 import tokens_df

    d = _t(spark, sf_dir, "documents")
    es = tokens_df(d.where(F.col("lang") == "es")).select("term").distinct()
    de = tokens_df(d.where(F.col("lang") == "de")).select("term").distinct()
    return (
        es.agg(F.count("*").alias("n_es"))
        .crossJoin(de.agg(F.count("*").alias("n_de")))
        .crossJoin(es.intersect(de).agg(F.count("*").alias("n_intersect")))
        .crossJoin(es.union(de).distinct().agg(F.count("*").alias("n_union")))
    )


def _q_topk_tiebreak(spark, sf_dir):
    # T1/T6: bounded top-k with explicit secondary/tertiary tie-break
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey", "l_linenumber", F.round("l_quantity", 2).alias("qty")
        )
        .orderBy(F.desc("qty"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(20)
    )


def _q_nested_exists(spark, sf_dir):
    # F6: predicate inside a nested collection via higher-order exists()
    o = _t(spark, sf_dir, "orders")
    nested = o.groupBy("o_custkey").agg(
        F.collect_list(F.struct("o_orderkey", "o_totalprice")).alias("orders_arr")
    )
    return nested.where(
        F.expr("exists(orders_arr, x -> x.o_totalprice > 300000)")
    ).select(F.col("o_custkey").alias("c_custkey"))


def _q_ann_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-k AND the MATERIALIZED-IVF path at full
    probe (exact => shared oracle) AND the hyperplane-LSH multiprobe path
    as variant-tagged union — the IVF index pays list-assignment at build
    time so queries scan only probed ``_list=`` partitions (partition
    pruning asserted in EXPLAIN.md).  The LSH leg became fully oracle-able
    in round 4: planes are the hash-derived ``lsh_planes`` family (md5 ->
    uniform [-1,1), exact in IEEE double), so DuckDB recomputes plane
    weights, sign buckets, the hamming<=1 probe set, and the candidate
    re-rank — the last formerly rows-only gate now hash-verifies."""
    from clinical_trial_searchengine_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        cosine_topk_lsh,
        ivf_search,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qv = [float(x) for x in qvec]
    bf = cosine_topk(emb, qv, k=10, round_to=4).select("vec_id", "cosine")
    idx = _index_dir_for(sf_dir, "ivf")
    if not os.path.exists(os.path.join(idx, "ivf_meta.json")):
        build_ivf_index(emb, idx, n_centroids=16)
    ivf = ivf_search(spark, idx, qv, k=10, n_probe=16, round_to=4).select(
        "vec_id", "cosine"
    )
    lsh = cosine_topk_lsh(
        emb, qv, k=10, n_planes=10, round_to=4
    ).select("vec_id", "cosine")
    return (
        bf.select(F.lit("brute").alias("variant"), "vec_id", "cosine")
        .unionByName(
            ivf.select(F.lit("ivf").alias("variant"), "vec_id", "cosine")
        )
        .unionByName(
            lsh.select(F.lit("lsh").alias("variant"), "vec_id", "cosine")
        )
    )


def _q_ann_knn_join(spark, sf_dir):
    import pandas as pd

    from clinical_trial_searchengine_spark.operators.similarity import (
        cosine_knn_join,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qrows = emb.where(F.col("vec_id").isin([0, 1, 2])).orderBy("vec_id").collect()
    queries = pd.DataFrame(
        {
            "query_id": [f"q{r['vec_id']}" for r in qrows],
            "vec": [[float(x) for x in r["embedding"]] for r in qrows],
        }
    )
    out = cosine_knn_join(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def _q_match_all_terms(spark, sf_dir):
    # F5: `match` with operator:and — ALL query tokens must appear in the
    # analyzed text (reference: backend/api/main.py:242-252). Expressed as
    # token-set containment; in the segment engine this is an AND-mode
    # posting-list intersection.
    d = _t(spark, sf_dir, "documents")
    toks = "array_distinct(regexp_extract_all(lower(text), '[a-z0-9]+', 0))"
    return d.where(
        F.expr(
            f"size(array_intersect({toks}, array('merge','join','filter'))) = 3"
        )
    ).select("doc_id")


_MULTIFIELDS = [("substring(text, 1, 120)", 3.0), ("text", 1.0)]


def _q_bm25_multifield(spark, sf_dir):
    # B2: multi_match best_fields with boosts (title^3-style dis_max)
    from clinical_trial_searchengine_spark.plans.dataframe_bm25 import (
        bm25_multifield_topk,
    )

    return bm25_multifield_topk(
        _t(spark, sf_dir, "documents"), _Q_TERMS, _MULTIFIELDS, k=10
    )


def _q_embedding_cosine_dups(spark, sf_dir):
    from clinical_trial_searchengine_spark.operators.dedup import (
        embedding_cosine_duplicates,
    )

    return embedding_cosine_duplicates(
        _t(spark, sf_dir, "embeddings"), threshold=0.5
    )


def _eval_run_qrels(spark, sf_dir):
    """Deterministic run + qrels derived from the orders table (J4/A5):
    3 queries = o_orderkey % 3 buckets ranked by price; qrels = graded
    relevance on the even-keyed half (odd keys stay unjudged)."""
    from clinical_trial_searchengine_spark.operators.eval import rank_run

    o = _t(spark, sf_dir, "orders")
    scored = o.select(
        F.concat(F.lit("q"), (F.col("o_orderkey") % 3).cast("string")).alias(
            "query_id"
        ),
        F.col("o_orderkey").alias("doc_id"),
        F.col("o_totalprice").alias("score"),
    )
    run = rank_run(scored, k=20).select("query_id", "doc_id", "rank")
    qrels = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.concat(F.lit("q"), (F.col("o_orderkey") % 3).cast("string")).alias(
            "query_id"
        ),
        F.col("o_orderkey").alias("doc_id"),
        F.when(F.col("o_custkey") % 7 == 0, 2)
        .when(F.col("o_custkey") % 3 == 0, 1)
        .otherwise(0)
        .alias("rel"),
    )
    return run, qrels


def _q_eval_ir_metrics(spark, sf_dir):
    # J4+A5 completed: run ⋈ qrels -> ndcg/mrr/map/precision/recall/
    # hit_rate/bpref per query PLUS the macro-averaged row (query_id =
    # '__mean__', the reference's headline numbers) — one gate for both
    # (reference: backend/evaluation/evaluation_pipeline.py:122-146,
    # custom_metrics.py:137-197)
    from clinical_trial_searchengine_spark.operators.eval import (
        METRIC_COLS,
        ir_metrics,
        ir_metrics_mean,
    )

    run, qrels = _eval_run_qrels(spark, sf_dir)
    per_q = ir_metrics(run, qrels, k=10)
    mean = ir_metrics_mean(run, qrels, k=10).select(
        F.lit("__mean__").alias("query_id"),
        *[F.col(f"mean_{c}").alias(c) for c in METRIC_COLS],
    )
    return per_q.unionByName(mean)


def _eval_feasible(spark, sf_dir):
    """Per-(query, hit) feasibility flags — the reference's hit_metadata
    is_feasible (profile-dependent, so keyed by query AND doc)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.concat(F.lit("q"), (F.col("o_orderkey") % 3).cast("string")).alias(
            "query_id"
        ),
        F.col("o_orderkey").alias("doc_id"),
        (F.col("o_orderkey") % 5 != 0).alias("is_feasible"),
    )


def _q_eval_feasibility_metrics(spark, sf_dir):
    # The reference's 4 custom feasibility metrics per query PLUS the
    # means row (query_id = '__mean__', compute_all_feasibility_metrics'
    # return value) — one gate for both
    # (reference: backend/evaluation/custom_metrics.py:137-197)
    from clinical_trial_searchengine_spark.operators.eval import (
        FEAS_METRIC_COLS,
        feasibility_metrics,
        feasibility_metrics_mean,
    )

    run, qrels = _eval_run_qrels(spark, sf_dir)
    feas = _eval_feasible(spark, sf_dir)
    per_q = feasibility_metrics(run, qrels, feas)
    mean = feasibility_metrics_mean(run, qrels, feas).select(
        F.lit("__mean__").alias("query_id"),
        *[F.col(f"mean_{c}").alias(c) for c in FEAS_METRIC_COLS],
    )
    return per_q.unionByName(mean)


_E2E_QUERIES = {"q0": "merge join filter", "q1": "index scan", "q2": "hash batch"}


def _q_rank_eval_end_to_end(spark, sf_dir):
    """Full SURVEY §3.1 lifecycle in ONE DAG (VERDICT r3 task #9):
    segment-engine batch retrieval (search_many, J5) -> criteria parsing +
    profile feasibility scoring over the candidates (X5-X13/J6) ->
    per-query feasibility-blended re-rank (the /rank blend shape,
    reference: backend/api/main.py:575-624) -> run ⋈ qrels -> the 7 IR
    metrics AND the 4 custom feasibility metrics per query (J4/A5,
    reference: backend/evaluation/evaluation_pipeline.py:122-150,
    custom_metrics.py:137-197).  The F8 hard filter is deliberately NOT
    applied here: violation@5 needs infeasible hits to measure, and the
    filter is separately gated (feasibility_rank)."""
    from pyspark.sql import Window

    from clinical_trial_searchengine_spark.functions.synonyms import (
        synonyms_df,
    )
    from clinical_trial_searchengine_spark.operators.eval import (
        feasibility_metrics,
        ir_metrics,
    )
    from clinical_trial_searchengine_spark.operators.feasibility import (
        feasibility_score,
        parse_trials,
    )
    from clinical_trial_searchengine_spark.operators.feasibility_gates import (
        PROFILE,
        _crit_df,
    )

    eng = _engine_for(spark, sf_dir)
    raw = eng.search_many(_E2E_QUERIES, k=90)
    # remap to original ids + round, then cut to the oracle-ordered top-30
    # candidate pool per query (over-fetch 3x so rounded-score ties at the
    # pool boundary cannot flip membership)
    cand = raw.join(_orig_id_map(spark, sf_dir), "doc_id").select(
        "query_id",
        F.col("orig_doc_id").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )
    w0 = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    cand = (
        cand.withColumn("r0", F.row_number().over(w0))
        .where(F.col("r0") <= 30)
        .drop("r0")
    )
    # J6: profile×trial feasibility over the synthesized criteria text
    crit = _crit_df(spark, sf_dir)
    syn = synonyms_df(spark)
    parsed = parse_trials(crit, "criteria_text", syn, ["doc_id"])
    fscored = feasibility_score(
        parsed, PROFILE, text_col="criteria_text"
    ).select("doc_id", "feasibility_score", "is_feasible")
    j = cand.join(fscored, "doc_id", "left")
    # per-query blend: 0.6 * minmax(score) + 0.4 * feasibility/100
    wq = Window.partitionBy("query_id")
    lo, hi = F.min("score").over(wq), F.max("score").over(wq)
    norm = F.when(hi > lo, (F.col("score") - lo) / (hi - lo)).otherwise(
        F.lit(0.5)
    )
    feasn = F.coalesce(F.col("feasibility_score") / 100.0, F.lit(0.0))
    j = j.withColumn("blended", F.round(0.6 * norm + 0.4 * feasn, 6))
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("blended"), F.asc("doc_id")
    )
    run = (
        j.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= 20)
        .select("query_id", "doc_id", "rank")
    )
    # deterministic qrels: 3 queries x even doc_ids, graded by (doc_id+qn)
    qn = F.substring("query_id", 2, 10).cast("int")
    qids = spark.createDataFrame(
        [(q,) for q in sorted(_E2E_QUERIES)], "query_id string"
    )
    qrels = (
        qids.crossJoin(
            _t(spark, sf_dir, "documents")
            .select("doc_id")
            .where(F.col("doc_id") % 2 == 0)
        )
        .select(
            "query_id",
            "doc_id",
            F.when((F.col("doc_id") + qn) % 7 == 0, 2)
            .when((F.col("doc_id") + qn) % 3 == 0, 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    feas = run.join(fscored.select("doc_id", "is_feasible"), "doc_id", "left").select(
        "query_id",
        "doc_id",
        F.coalesce("is_feasible", F.lit(False)).alias("is_feasible"),
    )
    m_ir = ir_metrics(run, qrels, k=10)
    m_fs = feasibility_metrics(run, qrels, feas)
    return m_ir.join(m_fs, "query_id").orderBy("query_id")


def _q_split_bullets_udtf(spark, sf_dir):
    """X3: stateful criteria splitter (header/bullet/continuation scanner ->
    array<struct<type,seq,text>> + explode).  The documents text is single-
    line, so a deterministic transform manufactures the line structure:
    every 'scan'/'hash' token starts a new bullet line; the kernel then
    parses it exactly like the reference's eligibility parser
    (reference: backend/db/scrape_clinical_trials.py:133-181)."""
    from clinical_trial_searchengine_spark.functions.splitter import (
        explode_sections,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    structured = docs.select(
        "doc_id",
        F.concat(
            F.lit("inclusion criteria:\n"),
            F.regexp_replace(F.lower("text"), "(scan|hash)", "\n- $1"),
        ).alias("blob"),
    )
    return explode_sections(structured, text_col="blob").select(
        "doc_id", "type", "seq", F.col("text").alias("entry")
    )


def _q_hybrid_rank(spark, sf_dir):
    """Composed /rank lifecycle: BM25 leg + dense leg -> RRF
    (keep_only_first) -> min-max normalize -> blend -> top-k
    (reference: backend/api/main.py:427-829).  TWO variants in one gate
    (driver-window economy): 'rrf' brute-forces the dense leg; 'ivf'
    serves it from the MATERIALIZED IVF index (reference's
    persistent-FAISS leg, main.py:777-784) at full probe — exact, so both
    variants share one oracle; production lowers n_probe and scans only
    the probed list partitions."""
    from clinical_trial_searchengine_spark.operators.hybrid import hybrid_rank
    from clinical_trial_searchengine_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        ivf_search,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    sparse = bm25_topk(docs, _Q_TERMS, k=30)
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qv = [float(x) for x in qvec]
    dense_bf = cosine_topk(emb, qv, k=60, round_to=4).select(
        F.col("vec_id").alias("doc_id"), "cosine"
    )
    idx = _index_dir_for(sf_dir, "ivf")
    if not os.path.exists(os.path.join(idx, "ivf_meta.json")):
        build_ivf_index(emb, idx, n_centroids=16)
    dense_ivf = ivf_search(
        spark, idx, qv, k=60, n_probe=16, round_to=4
    ).select(F.col("vec_id").alias("doc_id"), "cosine")
    out_rrf = hybrid_rank(sparse, dense_bf, k=10, rrf_k=60, blend_weight=0.3)
    out_ivf = hybrid_rank(sparse, dense_ivf, k=10, rrf_k=60, blend_weight=0.3)
    return out_rrf.select(
        F.lit("rrf").alias("variant"), "doc_id", "final_score"
    ).unionByName(
        out_ivf.select(F.lit("ivf").alias("variant"), "doc_id", "final_score")
    )


def _q_hybrid_rank_dense_fallback(spark, sf_dir):
    """Dense-only fallback (VERDICT r3 task #2): an out-of-vocabulary query
    empties the BM25 leg; instead of the RRF drop rule annihilating the
    result set, hybrid_search serves the min-max-normalized dense ranking
    (reference: backend/api/main.py:764-774,832-933)."""
    from clinical_trial_searchengine_spark.operators.hybrid import (
        hybrid_search,
    )

    eng = _engine_for(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 7).select("embedding").collect()[0][0]
    return hybrid_search(
        eng, "zqxjvkq frobnicatrixx", emb, [float(x) for x in qvec],
        k=10, sparse_n=30, dense_n=60, dense_round_to=4,
    )


def _q_sessionize_events(spark, sf_dir):
    """Gap-based per-user sessionization (gaps-and-islands batch twin of
    the applyInPandasWithState streaming operator in
    streaming/sessions.py — stream==batch property:
    tests/test_streaming.py::test_stateful_sessionizer_matches_batch_twin)."""
    from clinical_trial_searchengine_spark.streaming.sessions import (
        sessionize_events_batch,
    )

    us = (
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {})"
    )
    return sessionize_events_batch(
        _t(spark, sf_dir, "events"), gap_minutes=360
    ).select(
        "user_id",
        "session_no",
        # integer micros: timestamp dtypes (ns vs us) don't hash stably
        # across engines
        F.expr(us.format("session_start")).alias("start_us"),
        F.expr(us.format("session_end")).alias("end_us"),
        "n_events",
        "sum_value",
    )


def _q_multimodal_features(spark, sf_dir):
    # binary-column plumbing with stubbed decode (container lacks codecs).
    # Everything EXCEPT the histogram values is SQL-expressible, so the gate
    # projects the oracle-able surface (typed metadata, payload sha256,
    # frame-sampling count) plus two invariants of the real mapInPandas
    # kernel output (feature dimension, L1 normalization sum == 1).
    from clinical_trial_searchengine_spark.operators.multimodal import (
        attach_media_stub,
        extract_features,
        sample_frames,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    media = attach_media_stub(docs, "doc_id", "text", kind="image")
    feats = extract_features(media, n_features=8).select(
        "media_id",
        F.size("features").alias("n_features"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("feat_sum"),
    )
    vid = attach_media_stub(docs, "doc_id", "text", kind="video")
    sampled = sample_frames(vid, every_n=10).groupBy("media_id").agg(
        F.count("*").alias("n_sampled")
    )
    return (
        media.select(
            "media_id",
            "kind",
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.col("meta.n_frames").alias("n_frames"),
            F.sha2(F.col("payload"), 256).alias("payload_sha"),
        )
        .join(feats, "media_id")
        .join(sampled, "media_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Gate registry.  ORDER IS THE DRIVER CONTRACT: the driver's
    CORRECTNESS window records ~50 gates in registration order, so every
    ORACLED gate comes first (the five feasibility gates lead — they sat
    outside the window in r2/r3).  ALL 50 registered gates are oracled as
    of round 4 (the last rows-only leg, hyperplane LSH, became
    DuckDB-reproducible via hash-derived planes and merged into
    ann_cosine_topk).  Redundant DataFrame-path shapes are merged
    (variant-tagged unions) to keep the oracled count at 50: bm25_suite =
    plain+boost+filter, hybrid_rank = rrf+ivf legs, ann_cosine_topk =
    brute+ivf+lsh, eval_* = per-query + __mean__ row, content_hashes =
    sha256 invariant + md5 fingerprint (one documents scan),
    rank_norm_suite = minmax_norm + window_rank (freed the slot for
    synonym_expand)."""
    return {
        # -- feasibility path first (X5-X13 / F8 / J6) --
        **_feasibility_gates(),
        # -- new this round --
        "hybrid_rank_dense_fallback": _q_hybrid_rank_dense_fallback,
        "engine_incremental_upsert": _q_engine_incremental_upsert,
        "rank_eval_end_to_end": _q_rank_eval_end_to_end,
        "engine_bm25_porter": _q_engine_bm25_porter,
        "synonym_expand": _q_synonym_expand,
        # -- engine (segment) path --
        "engine_bm25_topk": _q_engine_bm25_topk,
        "engine_bm25_wand": _q_engine_bm25_wand,
        "engine_bm25_filtered": _q_engine_bm25_filtered,
        "engine_batch_queries": _q_engine_batch_queries,
        "engine_bm25_function_score": _q_engine_bm25_function_score,
        "engine_bm25_multifield": _q_engine_bm25_multifield,
        "engine_incremental_append": _q_engine_incremental_append,
        # -- DataFrame-path BM25 + ranking ops --
        "bm25_suite": _q_bm25_suite,
        "bm25_multifield": _q_bm25_multifield,
        "match_all_terms": _q_match_all_terms,
        "term_df_stats": _q_term_df_stats,
        "doc_token_stats": _q_doc_token_stats,
        # -- text/dedup/similarity pipeline ops --
        "content_hashes": _q_content_hashes,
        "quality_features": _q_quality_features,
        "dedup_exact_prefix": _q_dedup_exact_prefix,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "minhash_lsh_dedup": _q_minhash_lsh_dedup,
        "lang_id_counts": _q_lang_id_counts,
        "embedding_cosine_dups": _q_embedding_cosine_dups,
        # simhash is md5-deterministic, so the gate IS oracle-able: the
        # DuckDB twin recomputes the 64-bit fingerprints in SQL
        # (md5_number_upper == the kernel's little-endian first-8-bytes)
        # and verifies the banded pipeline against brute-force all-pairs
        "simhash_pairs": _q_simhash_pairs,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_knn_join": _q_ann_knn_join,
        # -- scan/filter/join/agg surface --
        "text_scan_suite": _q_text_scan_suite,
        "point_lookup": _q_point_lookup,
        "filter_range_membership": _q_filter_range_membership,
        "denorm_children": _q_denorm_children,
        "semi_join_topk_fetch": _q_semi_join_topk_fetch,
        "rrf_fusion": _q_rrf_fusion,
        "hybrid_rank": _q_hybrid_rank,
        "sessionize_events": _q_sessionize_events,
        "split_bullets_udtf": _q_split_bullets_udtf,
        "rank_norm_suite": _q_rank_norm_suite,
        "eval_ir_metrics": _q_eval_ir_metrics,
        "eval_feasibility_metrics": _q_eval_feasibility_metrics,
        "events_hourly": _q_events_hourly,
        "json_extract_props": _q_json_extract_props,
        "set_ops_lang_tokens": _q_set_ops_lang_tokens,
        "topk_tiebreak": _q_topk_tiebreak,
        "nested_exists": _q_nested_exists,
        # multimodal_features is oracled, so it takes the 50th (last
        # in-window) slot — the former sha256/md5 gates merged into
        # content_hashes to free it.  (The formerly rows-only
        # ann_cosine_lsh leg merged into ann_cosine_topk in round 4 —
        # planes are now hash-derived and DuckDB-reproducible — so every
        # registered gate is oracled and inside the window.)
        "multimodal_features": _q_multimodal_features,
    }


def _feasibility_gates():
    """X5-X13 criteria parsers + F8 feasibility filter + J6 profile×trial
    scoring (reference: backend/nlp/criteria_parser.py,
    feasibility_scorer.py, condition_normalizer.py; backend/api/main.py:
    575-624)."""
    from clinical_trial_searchengine_spark.operators.feasibility_gates import (
        GATES,
    )

    return GATES


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TOK = "regexp_extract_all(lower(text), '[a-z0-9]+')"

_SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(len({tok}) - 2, 0) + 1), "
    "i -> array_to_string(list_slice({tok}, i, i + 2), ' ')))"
).format(tok=_TOK)

_JACCARD_PAIRS_SQL = f"""
WITH sh AS (
  SELECT doc_id AS id, unnest({_SHINGLES}) AS shingle FROM documents
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS ni
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.id < b.id GROUP BY 1, 2
)
SELECT id_a, id_b, round(ni / (sa.n + sb.n - ni), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE ni / (sa.n + sb.n - ni) >= 0.8
"""

_EVAL_RUN_QRELS_SQL = """
scored AS (
  SELECT 'q' || (o_orderkey % 3)::VARCHAR AS query_id,
         o_orderkey AS doc_id, o_totalprice AS score
  FROM orders
),
run AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
  QUALIFY rank <= 20
),
qrels AS (
  SELECT 'q' || (o_orderkey % 3)::VARCHAR AS query_id,
         o_orderkey AS doc_id,
         CASE WHEN o_custkey % 7 = 0 THEN 2
              WHEN o_custkey % 3 = 0 THEN 1 ELSE 0 END AS rel
  FROM orders WHERE o_orderkey % 2 = 0
)"""

# IR metric CTE chain over `run` (query_id, doc_id, rank) and `qrels`
# (query_id, doc_id, rel) — reused by eval_ir_metrics and the end-to-end
# rank-eval oracle.
_IR_METRIC_CTES = """
totals AS (
  SELECT query_id,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS R,
         sum(CASE WHEN rel = 0 THEN 1 ELSE 0 END) AS N
  FROM qrels GROUP BY 1
  HAVING sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) > 0
),
ideal AS (
  SELECT query_id, sum((pow(2, rel) - 1) / log2(irank + 1)) AS idcg FROM (
    SELECT query_id, rel,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, doc_id ASC) AS irank
    FROM qrels WHERE rel > 0
  ) WHERE irank <= 10 GROUP BY 1
),
j AS (
  SELECT r.query_id, r.rank, coalesce(q.rel, 0) AS rel,
         CASE WHEN q.rel IS NOT NULL THEN 1 ELSE 0 END AS judged
  FROM run r LEFT JOIN qrels q USING (query_id, doc_id)
  WHERE r.rank <= 10
),
jw AS (
  SELECT *,
         CASE WHEN rel > 0 THEN 1 ELSE 0 END AS rel_bin,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY query_id ORDER BY rank) AS cum_rel,
         sum(CASE WHEN judged = 1 AND rel = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY query_id ORDER BY rank)
           - CASE WHEN judged = 1 AND rel = 0 THEN 1 ELSE 0 END AS nonrel_above
  FROM j
),
perq AS (
  SELECT query_id, sum(rel_bin) AS n_rel_ret,
         min(CASE WHEN rel_bin = 1 THEN rank END) AS first_rel,
         sum(CASE WHEN rel_bin = 1 THEN cum_rel::DOUBLE / rank END) AS sum_prec,
         sum((pow(2, rel) - 1) / log2(rank + 1)) AS dcg
  FROM jw GROUP BY 1
),
bp AS (
  SELECT jw.query_id,
         sum(CASE WHEN rel_bin = 1 THEN
             CASE WHEN least(t.R, t.N) = 0 THEN 1.0
                  ELSE 1.0 - least(nonrel_above, t.R)::DOUBLE / least(t.R, t.N)
             END END) AS bpref_sum
  FROM jw JOIN totals t USING (query_id) GROUP BY 1
),
metrics AS (
  SELECT t.query_id,
         round(coalesce(n_rel_ret, 0) / 10.0, 6) AS precision,
         round(coalesce(n_rel_ret, 0)::DOUBLE / t.R, 6) AS recall,
         CASE WHEN coalesce(n_rel_ret, 0) > 0 THEN 1.0 ELSE 0.0 END AS hit_rate,
         round(coalesce(1.0 / first_rel, 0), 6) AS mrr,
         round(coalesce(sum_prec, 0) / t.R, 6) AS ap,
         round(CASE WHEN coalesce(i.idcg, 0) > 0
               THEN coalesce(dcg, 0) / i.idcg ELSE 0 END, 6) AS ndcg,
         round(coalesce(bpref_sum, 0) / t.R, 6) AS bpref
  FROM totals t
  LEFT JOIN perq USING (query_id)
  LEFT JOIN ideal i USING (query_id)
  LEFT JOIN bp USING (query_id)
)
"""

_EVAL_BASE_SQL = _EVAL_RUN_QRELS_SQL + "," + _IR_METRIC_CTES

# Feasibility metric CTE chain over `run`, `qrels`, and `feas`
# (query_id, doc_id, is_feasible) — reused by eval_feasibility_metrics and
# the end-to-end rank-eval oracle.
_FEAS_METRIC_CTES = """
ftotals AS (
  SELECT query_id, sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS R
  FROM qrels GROUP BY 1
),
fj AS (
  SELECT r.query_id, r.rank,
         CASE WHEN coalesce(q.rel, 0) > 0 THEN 1 ELSE 0 END AS rel_bin,
         CASE WHEN coalesce(f.is_feasible, false) THEN 1 ELSE 0 END AS feasb
  FROM run r
  LEFT JOIN qrels q USING (query_id, doc_id)
  LEFT JOIN feas f USING (query_id, doc_id)
),
fperq AS (
  SELECT query_id,
         sum(CASE WHEN rank <= 10 AND rel_bin = 1 THEN feasb ELSE 0 END) AS n_pf10,
         sum(CASE WHEN rel_bin = 1 THEN feasb ELSE 0 END) AS n_rf20,
         sum(CASE WHEN rank <= 5 THEN 1 - feasb ELSE 0 END) AS n_viol5
  FROM fj GROUP BY 1
),
fmetrics AS (
  SELECT p.query_id,
         round(n_pf10 / 10.0, 6) AS precision_feasible_10,
         round(CASE WHEN coalesce(t.R, 0) > 0
               THEN n_rf20::DOUBLE / t.R ELSE 0 END, 6) AS recall_feasible_20,
         round(n_viol5 / 5.0, 6) AS violation_5,
         round(CASE WHEN coalesce(t.R, 0) > 0
               THEN n_pf10::DOUBLE / t.R ELSE 0 END, 6) AS reach_10
  FROM fperq p LEFT JOIN ftotals t USING (query_id)
)
"""

_LANGS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "que"],
    "it": ["il", "di", "che", "la", "per", "con", "una", "sono", "non", "gli"],
}


def _lang_id_oracle() -> str:
    """First-strict-max over sorted langs, matching functions/text.py
    lang_id exactly (first 200 whitespace words, set-membership counts)."""
    counts = []
    for lang, words in _LANGS.items():
        wl = ", ".join(f"'{w}'" for w in words)
        counts.append(
            f"len(list_filter(words, w -> w IN ({wl}))) AS n_{lang}"
        )
    langs = sorted(_LANGS)
    arms = []
    for i, lg in enumerate(langs):
        later = [f"n_{lg} >= n_{x}" for x in langs[i + 1 :]]
        earlier = [f"n_{lg} > n_{x}" for x in langs[:i]]
        cond = " AND ".join([f"n_{lg} > 0"] + earlier + later)
        arms.append(f"WHEN {cond} THEN '{lg}'")
    case = "CASE " + " ".join(arms) + " ELSE 'und' END"
    return f"""
WITH w AS (
  SELECT doc_id,
         list_distinct(list_slice(regexp_extract_all(lower(text), '\\S+'), 1, 200)) AS words
  FROM documents
),
c AS (SELECT doc_id, {', '.join(counts)} FROM w)
SELECT {case} AS lang_pred, count(*) AS n_docs FROM c GROUP BY 1
"""


_E2E_TERMS = {
    "q0": {"merge": 1.0, "join": 1.0, "filter": 1.0},
    "q1": {"index": 1.0, "scan": 1.0},
    "q2": {"batch": 1.0, "hash": 1.0},
}


def _e2e_oracle_sql() -> str:
    """End-to-end rank-eval oracle: per-query BM25 top-30 (nested, shares
    the generated feasibility scoring CTEs) -> blend -> rank -> run ⋈ qrels
    -> IR + feasibility metric chains, all in one DuckDB statement."""
    from clinical_trial_searchengine_spark.operators.feasibility_gates import (
        feasibility_calc_cte,
    )

    rq = "\nUNION ALL\n".join(
        f"SELECT '{qid}' AS query_id, doc_id, score "
        f"FROM ({bm25_oracle_sql(terms, k=30)}) t_{qid}"
        for qid, terms in sorted(_E2E_TERMS.items())
    )
    return (
        feasibility_calc_cte()
        + f""",
fcalc AS (
  SELECT doc_id,
    (case when hard then 0 when ok then least(score, 100) else 0 end) AS fs,
    (case when hard then false else ok end) AS isf
  FROM calc
),
rq AS ({rq}),
bounds AS (SELECT query_id, min(score) AS mn, max(score) AS mx
           FROM rq GROUP BY 1),
jn AS (
  SELECT rq.query_id, rq.doc_id,
         round(0.6 * (CASE WHEN b.mx > b.mn
                      THEN (rq.score - b.mn) / (b.mx - b.mn)
                      ELSE 0.5 END)
               + 0.4 * (coalesce(fc.fs, 0) / 100.0), 6) AS blended
  FROM rq
  JOIN bounds b USING (query_id)
  LEFT JOIN fcalc fc ON fc.doc_id = rq.doc_id
),
run AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY blended DESC, doc_id ASC) AS rank
  FROM jn QUALIFY rank <= 20
),
qrels AS (
  SELECT q.query_id, d.doc_id,
         CASE WHEN (d.doc_id + q.qn) % 7 = 0 THEN 2
              WHEN (d.doc_id + q.qn) % 3 = 0 THEN 1 ELSE 0 END AS rel
  FROM (VALUES ('q0', 0), ('q1', 1), ('q2', 2)) q(query_id, qn)
  CROSS JOIN (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d
),
feas AS (
  SELECT r.query_id, r.doc_id, coalesce(fc.isf, false) AS is_feasible
  FROM run r LEFT JOIN fcalc fc USING (doc_id)
),
{_IR_METRIC_CTES},
{_FEAS_METRIC_CTES}
SELECT m.*, f.precision_feasible_10, f.recall_feasible_20, f.violation_5,
       f.reach_10
FROM metrics m JOIN fmetrics f USING (query_id)
ORDER BY query_id
"""
    )


def _synonym_expand_oracle() -> str:
    """DuckDB oracle for the synonym_expand gate, single-sourced from the
    same dictionary the Spark side broadcasts (synonyms_rows): the
    dedup-then-cap window chain is order-equivalent to the reference's
    accumulate-with-early-exit loop because dropping duplicates never
    reorders survivors."""
    from clinical_trial_searchengine_spark.functions.synonyms import (
        demo_synonyms,
        synonyms_rows,
    )

    def _q(s: str) -> str:  # SQL string literal (user dictionary data)
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"({_q(key)}, {_q(term_orig)}, {pos})"
        for (key, _clean, _kind, _term, _term_re, pos, term_orig)
        in synonyms_rows(demo_synonyms())
    )
    key_slots = "\nUNION ALL\n".join(
        f"SELECT doc_id, {i} AS cond_pos, {slot} AS key "
        "FROM documents WHERE doc_id < 400"
        for i, slot in enumerate(_SYN_KEY_SLOTS)
    )
    return f"""
WITH keys AS (
{key_slots}
), syn(key, term, pos) AS (VALUES {vals}),
j AS (
  SELECT k.doc_id, k.cond_pos, s.pos, s.term,
         lower(regexp_replace(s.term, '^\\s+|\\s+$', '', 'g')) AS tl
  FROM keys k JOIN syn s ON s.key = k.key
  WHERE s.pos < 3
    AND length(regexp_replace(s.term, '^\\s+|\\s+$', '', 'g')) > 0
),
dd AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, tl
                               ORDER BY cond_pos, pos) AS dup_rn
  FROM j
),
r AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cond_pos, pos) AS rank
  FROM dd WHERE dup_rn = 1
)
SELECT doc_id, CAST(rank AS INT) AS rank, term FROM r WHERE rank <= 7
"""


def oracle_sql(sf_dir: str = _DRIVER_SF_DIR) -> dict[str, str]:
    """DuckDB referee SQL per gate.  ``sf_dir`` only parameterizes the
    porter side-table path (every other oracle reads the harness-bound
    table views); the driver calls this with no args — the default IS the
    driver's sf.""" 
    sqls: dict[str, str] = {}
    sqls["bm25_suite"] = "\nUNION ALL\n".join(
        f"SELECT '{variant}' AS variant, doc_id, score FROM ({sql}) t_{variant}"
        for variant, sql in [
            ("plain", bm25_oracle_sql(_Q_TERMS, k=10)),
            (
                "boost",
                bm25_oracle_sql(
                    _Q_TERMS, k=10,
                    boost_case="CASE WHEN d.lang = 'en' THEN 1.15 ELSE 1.0 END",
                ),
            ),
            ("filter", bm25_oracle_sql(_Q_TERMS, k=10, where="d.lang = 'en'")),
        ]
    )
    sqls["engine_bm25_topk"] = bm25_oracle_sql(_Q_TERMS, k=10)
    # S5 delta-generation append: same full-corpus oracle — the append path
    # must be score-identical to a single build over everything.
    sqls["engine_incremental_append"] = bm25_oracle_sql(_Q_TERMS, k=10)
    # S5 replace: post-compaction scores must equal BM25 over the UPDATED
    # corpus (one fifth of docs re-committed with the marker appended);
    # pre-compaction tombstone-mask semantics are asserted inside the gate.
    sqls["engine_incremental_upsert"] = bm25_oracle_sql(
        _Q_TERMS, k=10,
        table=(
            "(select doc_id, case when doc_id % 5 = 0 then text || "
            f"'{_UPSERT_MARKER}' else text end as text, lang from documents)"
        ),
    )
    # Porter analyzer chain: BM25 over the independently-generated stemmed
    # token stream (side table written by the gate itself)
    sqls["engine_bm25_porter"] = _porter_oracle_sql(k=10, sf_dir=sf_dir)
    sqls["engine_bm25_wand"] = bm25_oracle_sql(_Q_TERMS, k=10)
    sqls["engine_bm25_filtered"] = bm25_oracle_sql(
        _Q_TERMS, k=10, where="d.lang = 'en'"
    )
    sqls["engine_bm25_function_score"] = bm25_oracle_sql(
        _Q_TERMS, k=10,
        boost_case="CASE WHEN d.lang = 'en' THEN 1.15 ELSE 1.0 END",
    )
    _batch = {
        "qa": {"merge": 1.0, "join": 1.0, "filter": 1.0},
        "qb": {"index": 1.0, "scan": 1.0},
        "qc": {"parallel": 1.0},
    }
    sqls["engine_batch_queries"] = "\nUNION ALL\n".join(
        f"""SELECT '{qid}' AS query_id, doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
FROM ({bm25_oracle_sql(terms, k=5)}) t_{qid}"""
        for qid, terms in _batch.items()
    )
    sqls["term_df_stats"] = f"""
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
FROM (SELECT doc_id, unnest({_TOK}) AS term FROM documents)
GROUP BY term ORDER BY df DESC, term ASC LIMIT 20
"""
    sqls["doc_token_stats"] = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '\\S+')) AS ws_tokens,
       len({_TOK}) AS word_tokens
FROM documents
"""
    sqls["content_hashes"] = (
        "SELECT doc_id, sha256(text) AS text_sha256, "
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp "
        "FROM documents"
    )
    sqls["quality_features"] = f"""
SELECT doc_id,
       len({_TOK}) AS n_words,
       round(len(list_filter({_TOK}, w -> w IN ({_STOP12})))
             / greatest(len({_TOK}), 1), 6) AS stopword_ratio,
       round(len(regexp_extract_all(text, '[.,;:!?]'))
             / greatest(length(text), 1), 6) AS punct_ratio,
       round((length(text) - len({_TOK}) + 1)
             / greatest(len({_TOK}), 1), 6) AS mean_word_len
FROM documents
"""
    sqls["dedup_exact_prefix"] = """
SELECT sha256(substr(text, 1, 60)) AS text_sha256,
       count(*) AS n_dups, min(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING count(*) >= 2
"""
    sqls["ngram_jaccard_pairs"] = _JACCARD_PAIRS_SQL
    sqls["minhash_lsh_dedup"] = _JACCARD_PAIRS_SQL
    sqls["lang_id_counts"] = _lang_id_oracle()
    sqls["text_scan_suite"] = """
SELECT 'collapse' AS variant, doc_id,
       substr(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 80) AS val
FROM documents
UNION ALL
SELECT 'ilike' AS variant, doc_id, CAST(NULL AS VARCHAR) AS val
FROM documents WHERE lower(text) LIKE '%merge join%'
"""
    # SimHash is md5-deterministic end to end, so the banded pigeonhole
    # pipeline has an exact brute-force twin: recompute every doc's 64-bit
    # fingerprint in SQL (md5_number_upper(tok) IS the kernel's
    # little-endian first-8-bytes token hash; tf-weighted bit votes;
    # two's-complement to match the signed-long column) and emit ALL pairs
    # at hamming <= 3 — the banding is recall-lossless within the radius,
    # so banded == all-pairs.
    sqls["simhash_pairs"] = r"""
WITH toks AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents)
  WHERE length(tok) > 0
  GROUP BY doc_id, tok
),
votes AS (
  SELECT doc_id, i,
         sum(tf * (2 * ((md5_number_upper(tok) >> i) & 1)::BIGINT - 1)) AS vote
  FROM toks, (SELECT unnest(range(64)) AS i) b
  GROUP BY doc_id, i
),
hu AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN (1::HUGEINT << i)
             ELSE 0::HUGEINT END) AS h
  FROM votes GROUP BY doc_id
),
sh AS (
  SELECT d.doc_id,
         CAST(CASE WHEN coalesce(h.h, 0) >= 9223372036854775808::HUGEINT
              THEN coalesce(h.h, 0) - 18446744073709551616::HUGEINT
              ELSE coalesce(h.h, 0) END AS BIGINT) AS sim
  FROM documents d LEFT JOIN hu h USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sim, b.sim))::INT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= 3
"""
    sqls["point_lookup"] = (
        "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42"
    )
    sqls["filter_range_membership"] = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice >= 50000
  AND o_totalprice <= 100000 AND o_custkey % 10 = 0
"""
    sqls["denorm_children"] = """
SELECT o.o_orderkey,
       count(*) AS n_items,
       round(sum(l.l_quantity), 2) AS sum_qty,
       string_agg(l.l_linenumber::VARCHAR, ',' ORDER BY l.l_linenumber) AS line_numbers
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""
    sqls["semi_join_topk_fetch"] = """
WITH top AS (
  SELECT o_orderkey FROM orders
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
)
SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM top)
"""
    sqls["rrf_fusion"] = """
WITH by_bal AS (
  SELECT c_custkey AS id,
         row_number() OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer
),
by_orders AS (
  SELECT o_custkey AS id,
         row_number() OVER (ORDER BY count(*) DESC, o_custkey ASC) AS rank
  FROM orders GROUP BY o_custkey
),
u AS (
  SELECT id, 1.0 / (60 + rank + 1) AS rrf FROM by_bal
  UNION ALL
  SELECT id, 1.0 / (60 + rank + 1) AS rrf FROM by_orders
)
SELECT id AS c_custkey, round(sum(rrf), 6) AS rrf_score
FROM u GROUP BY id
ORDER BY round(sum(rrf), 6) DESC, id ASC LIMIT 20
"""
    sqls["rank_norm_suite"] = """
WITH o AS (SELECT * FROM orders WHERE o_orderkey < 200),
b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM o)
SELECT 'minmax' AS variant, CAST(o_orderkey AS BIGINT) AS k1,
       CAST(NULL AS BIGINT) AS k2,
       round(CASE WHEN b.mx = b.mn THEN 1.0
             ELSE (o_totalprice - b.mn) / (b.mx - b.mn) END, 6) AS val
FROM o CROSS JOIN b
UNION ALL
SELECT 'rank' AS variant, CAST(o_custkey AS BIGINT) AS k1,
       CAST(o_orderkey AS BIGINT) AS k2, CAST(rank AS DOUBLE) AS val
FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""
    sqls["synonym_expand"] = _synonym_expand_oracle()
    # per-query rows + the '__mean__' macro-average row in one result
    sqls["eval_ir_metrics"] = f"""
WITH {_EVAL_BASE_SQL}
SELECT * FROM metrics
UNION ALL
SELECT '__mean__' AS query_id,
       round(avg(precision), 6), round(avg(recall), 6),
       round(avg(hit_rate), 6), round(avg(mrr), 6), round(avg(ap), 6),
       round(avg(ndcg), 6), round(avg(bpref), 6)
FROM metrics
"""
    feas_cte = """
feas AS (
  SELECT 'q' || (o_orderkey % 3)::VARCHAR AS query_id,
         o_orderkey AS doc_id, (o_orderkey % 5 <> 0) AS is_feasible
  FROM orders
)"""
    sqls["eval_feasibility_metrics"] = f"""
WITH {_EVAL_RUN_QRELS_SQL}, {feas_cte}, {_FEAS_METRIC_CTES}
SELECT * FROM fmetrics
UNION ALL
SELECT '__mean__' AS query_id,
       round(avg(precision_feasible_10), 6),
       round(avg(recall_feasible_20), 6),
       round(avg(violation_5), 6), round(avg(reach_10), 6)
FROM fmetrics
"""
    sqls["rank_eval_end_to_end"] = _e2e_oracle_sql()
    sqls["events_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1, 2
"""
    sqls["json_extract_props"] = """
SELECT event_type,
       round(avg(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)), 4) AS avg_k,
       max(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS max_k
FROM events GROUP BY 1
"""
    sqls["set_ops_lang_tokens"] = f"""
WITH es AS (SELECT DISTINCT unnest({_TOK}) AS term FROM documents WHERE lang = 'es'),
de AS (SELECT DISTINCT unnest({_TOK}) AS term FROM documents WHERE lang = 'de')
SELECT (SELECT count(*) FROM es) AS n_es,
       (SELECT count(*) FROM de) AS n_de,
       (SELECT count(*) FROM (SELECT term FROM es INTERSECT SELECT term FROM de)) AS n_intersect,
       (SELECT count(*) FROM (SELECT term FROM es UNION SELECT term FROM de)) AS n_union
"""
    sqls["topk_tiebreak"] = """
SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
FROM lineitem
ORDER BY round(l_quantity, 2) DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 20
"""
    sqls["nested_exists"] = (
        "SELECT DISTINCT o_custkey AS c_custkey FROM orders "
        "WHERE o_totalprice > 300000"
    )
    _ann_base = """
WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], q.v), 4) AS cosine
FROM embeddings CROSS JOIN q
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""
    # brute-force and full-probe IVF are both exact -> identical expected
    # rows; the LSH leg recomputes the hash-derived planes (md5 ->
    # uniform [-1,1), every step exact in IEEE double — see
    # similarity.lsh_planes), the per-vector sign buckets, the query's
    # hamming<=1 multiprobe set, and the exact re-rank over candidates.
    # n_planes=10, seed=42, dim read from the embeddings table — matches
    # the gate's cosine_topk_lsh(emb, qv, k=10, n_planes=10) call.
    _lsh_dim = _embedding_dim(sf_dir)
    _ann_lsh = f"""
WITH planes AS (
  SELECT p.range AS p, d.range AS d,
    (('0x'||substr(md5(concat('42_', p.range, '_', d.range)),1,8))::UBIGINT
      / 4294967296.0) * 2 - 1 AS w
  FROM range(10) p CROSS JOIN range({_lsh_dim}) d
),
q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
bits AS (
  SELECT e.vec_id, pl.p,
         CASE WHEN SUM(e.embedding[pl.d + 1]::DOUBLE * pl.w) > 0
              THEN 1 ELSE 0 END AS bit
  FROM embeddings e, planes pl GROUP BY e.vec_id, pl.p
),
buckets AS (
  SELECT vec_id, SUM(bit * (1::BIGINT << p))::BIGINT AS bucket
  FROM bits GROUP BY vec_id
),
qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
probes AS (
  SELECT bucket AS pb FROM qb
  UNION ALL
  SELECT xor(qb.bucket, 1::BIGINT << i.range) FROM qb CROSS JOIN range(10) i
)
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.v), 4) AS cosine
FROM embeddings e CROSS JOIN q
WHERE e.vec_id IN (
  SELECT b.vec_id FROM buckets b WHERE b.bucket IN (SELECT pb FROM probes)
)
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""
    sqls["ann_cosine_topk"] = (
        f"SELECT 'brute' AS variant, vec_id, cosine FROM ({_ann_base}) a\n"
        f"UNION ALL\nSELECT 'ivf' AS variant, vec_id, cosine FROM ({_ann_base}) b\n"
        f"UNION ALL\nSELECT 'lsh' AS variant, vec_id, cosine FROM ({_ann_lsh}) c"
    )
    sqls["ann_knn_join"] = """
WITH q AS (
  SELECT 'q' || vec_id::VARCHAR AS query_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id IN (0, 1, 2)
),
s AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.v), 4) AS cosine
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM s
) WHERE rank <= 5
"""
    from clinical_trial_searchengine_spark.plans.dataframe_bm25 import (
        bm25_multifield_oracle_sql,
    )

    sqls["match_all_terms"] = f"""
SELECT doc_id FROM documents
WHERE len(list_intersect(list_distinct({_TOK}),
                         ['merge', 'join', 'filter'])) = 3
"""
    sqls["bm25_multifield"] = bm25_multifield_oracle_sql(
        _Q_TERMS, _MULTIFIELDS, k=10
    )
    # engine multifield scores the same two fields with the same per-field
    # stats and dis_max -> identical oracle
    sqls["engine_bm25_multifield"] = bm25_multifield_oracle_sql(
        _Q_TERMS, _MULTIFIELDS, k=10
    )
    sqls["split_bullets_udtf"] = """
WITH s AS (
  SELECT doc_id,
         regexp_replace(lower(text), '(scan|hash)', chr(10) || '- \\1', 'g') AS body
  FROM documents WHERE doc_id < 500
),
lines AS (
  SELECT doc_id,
         unnest(string_split(body, chr(10))) AS line,
         unnest(range(1, len(string_split(body, chr(10))) + 1)) AS pos
  FROM s
),
entries AS (
  SELECT doc_id, pos,
         trim(CASE WHEN line LIKE '- %' THEN substr(line, 3) ELSE line END) AS entry
  FROM lines
  WHERE trim(line) <> ''
)
SELECT doc_id, 'inclusion' AS type,
       row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS seq,
       entry
FROM entries
"""
    _hyb = f"""
WITH sparse AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM ({bm25_oracle_sql(_Q_TERMS, k=30)}) s
),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
dense0 AS (
  SELECT vec_id AS doc_id,
         round(list_cosine_similarity(embedding::DOUBLE[], qv.v), 4) AS cosine
  FROM embeddings CROSS JOIN qv
  ORDER BY cosine DESC, vec_id ASC LIMIT 60
),
dense AS (
  SELECT doc_id, cosine,
         row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS rank
  FROM dense0
),
contrib AS (
  SELECT doc_id, 1.0 / (60 + rank + 1) AS rrf FROM sparse
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rank + 1) AS rrf FROM dense
),
fused AS (
  SELECT doc_id, sum(rrf) AS rrf_score FROM contrib GROUP BY 1
),
kept AS (
  SELECT * FROM fused WHERE doc_id IN (SELECT doc_id FROM sparse)
),
nb AS (SELECT min(rrf_score) AS mn, max(rrf_score) AS mx FROM kept),
normed AS (
  SELECT doc_id,
         CASE WHEN nb.mx = nb.mn THEN 1.0
              ELSE (rrf_score - nb.mn) / (nb.mx - nb.mn) END AS norm
  FROM kept CROSS JOIN nb
),
db AS (SELECT min(cosine) AS mn, max(cosine) AS mx FROM dense),
dnorm AS (
  SELECT doc_id,
         CASE WHEN db.mx = db.mn THEN 1.0
              ELSE (cosine - db.mn) / (db.mx - db.mn) END AS sec
  FROM dense CROSS JOIN db
)
SELECT n.doc_id,
       round(0.7 * n.norm + 0.3 * coalesce(d.sec, 0), 6) AS final_score
FROM normed n LEFT JOIN dnorm d USING (doc_id)
ORDER BY final_score DESC, doc_id ASC LIMIT 10
"""
    # brute-force and full-probe-IVF dense legs are both exact -> the two
    # variants expect identical rows
    sqls["hybrid_rank"] = (
        f"SELECT 'rrf' AS variant, doc_id, final_score FROM ({_hyb}) a\n"
        f"UNION ALL\n"
        f"SELECT 'ivf' AS variant, doc_id, final_score FROM ({_hyb}) b"
    )
    # dense-only fallback: OOV query -> min-max-normalized dense ranking
    # (reference: backend/api/main.py:832-933)
    sqls["hybrid_rank_dense_fallback"] = """
WITH qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
dense AS (
  SELECT vec_id AS doc_id,
         round(list_cosine_similarity(embedding::DOUBLE[], qv.v), 4) AS cosine
  FROM embeddings CROSS JOIN qv
  ORDER BY cosine DESC, doc_id ASC LIMIT 60
),
b AS (SELECT min(cosine) AS mn, max(cosine) AS mx FROM dense)
SELECT doc_id,
       round(CASE WHEN b.mx = b.mn THEN 1.0
             ELSE (cosine - b.mn) / (b.mx - b.mn) END, 6) AS final_score
FROM dense CROSS JOIN b
ORDER BY final_score DESC, doc_id ASC LIMIT 10
"""
    from clinical_trial_searchengine_spark.streaming.sessions import (
        sessionize_oracle_sql,
    )

    sqls["sessionize_events"] = f"""
SELECT user_id, session_no, epoch_us(session_start) AS start_us,
       epoch_us(session_end) AS end_us, n_events, sum_value
FROM ({sessionize_oracle_sql(360)}) t
"""
    sqls["embedding_cosine_dups"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.5
"""
    # feasibility path (X5-X13 / F8 / J6): oracle SQL is GENERATED from the
    # same regex constants the engine uses (operators/feasibility_gates.py)
    from clinical_trial_searchengine_spark.operators.feasibility_gates import (
        gate_oracles,
    )

    sqls.update(gate_oracles())
    # multimodal plumbing: metadata arithmetic, payload sha256, and the
    # frame-sampling count (size of sequence(0, n_frames-1, 10)) are exact
    # SQL; the mapInPandas feature kernel is pinned by its dimension and
    # L1-normalization-sum invariants (histogram VALUES come from the
    # labeled stub decode — pytest covers their determinism).
    sqls["multimodal_features"] = """
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(length(text) % 640 + 32 AS INT) AS width,
       CAST(length(text) % 480 + 32 AS INT) AS height,
       CAST(length(text) % 300 + 1 AS INT) AS n_frames,
       sha256(text) AS payload_sha,
       8 AS n_features, 1.0 AS feat_sum,
       CAST((length(text) % 300) // 10 + 1 AS BIGINT) AS n_sampled
FROM documents WHERE doc_id < 50
"""
    # every registered gate above is oracled — zero rows-only checks
    # (the former ann_cosine_lsh rows-only gate was folded into
    # ann_cosine_topk's oracled lsh variant via hash-derived planes)
    return sqls

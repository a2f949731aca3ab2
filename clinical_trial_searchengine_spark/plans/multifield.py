"""Multi-field BM25 on the segment engine (B2): per-field postings +
per-field stats + dis_max merge.

The reference's main query is a `multi_match best_fields` over 7 boosted
fields (reference: backend/api/main.py:213-232, boosts at :216-225): each
field is scored as its own BM25 index (own df / dl / avgdl — Lucene
semantics), the boosted per-field scores are merged per doc with MAX
(dis_max, tie_breaker=0).

Engine layout: one full segment sub-index PER FIELD under
``index_dir/fields/<name>/`` — per-field posting lists and per-field global
stats fall out for free, and a query touches only the queried fields'
postings.  doc_ids are consistent across sub-indexes because assignment is
the deterministic global rank of the shared (repo, path, commit) key set
(property: tests/test_build_invariants.py::test_doc_id_assignment_
deterministic); build verifies num_docs agreement across fields.

At 100 TB this is the layout you want: the corpus is range-shuffled for
doc_ids once, and each field sub-index runs the single-field build path over
that one assigned relation with its field's text as ``content`` — one
tokenize per field, which per-field stats need anyway.  Shard/salt/resume
machinery is reused unchanged, and dis_max is a full-outer join on doc_id of
k' pre-ranked legs — no new shuffle shapes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_trial_searchengine_spark.plans import segments as seg
from clinical_trial_searchengine_spark.plans.build import (
    assign_doc_ids,
    build_index,
)
from clinical_trial_searchengine_spark.plans.query import IndexHandle, search_all

MF_META = "multifield_meta.json"


def field_dir(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, "fields", name)


def build_multifield_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    fields: dict[str, str],
    **build_kwargs,
) -> dict:
    """Build one segment sub-index per field.

    ``fields``: {field_name: sql_expr_over_corpus_columns} — each expr
    derives that field's text (e.g. ``{"title": "substring(content,1,120)",
    "body": "content"}``).  Each sub-index is independently
    manifest-resumable.  The corpus sha256 invariant is checked once against
    the source ``content``; derived field text is not re-hashed (the
    invariant is a property of the source row, not of projections of it).
    """
    metas: dict[str, dict] = {}
    first_field = next(iter(fields))
    has_sha = "content_sha256" in corpus.columns and build_kwargs.get(
        "verify_sha", True
    )
    identity_fields = {n for n, e in fields.items() if e.strip() == "content"}
    if has_sha and not identity_fields:
        # no field indexes the raw content, so no sub-build can check the
        # invariant — check it here, once, against the source rows
        mism = corpus.where(
            F.sha2(F.col("content"), 256) != F.col("content_sha256")
        ).count()
        if mism:
            raise ValueError(
                f"content_sha256 invariant violated for {mism} rows"
            )
    # ONE range shuffle of the corpus, shared by every field sub-index
    # (assignment is key-deterministic, so this is an optimization, not a
    # correctness requirement — property-tested in test_build_invariants).
    # The assigned relation is persisted once; each sub-build reads it with
    # its field expression as ``content`` and runs the one build path.
    assigned = assign_doc_ids(corpus, persist_output=True)
    for name, expr in fields.items():
        sub = assigned.withColumn("content", F.expr(expr))
        if "content_sha256" in sub.columns and name not in identity_fields:
            # derived field text != source content: the sha invariant does
            # not apply to projections (checked above / by identity fields)
            sub = sub.drop("content_sha256")
        metas[name] = build_index(
            spark, sub, field_dir(index_dir, name),
            pre_assigned=True,
            **build_kwargs,
        )
    assigned._ctse_persisted.unpersist()
    n0 = metas[first_field]["num_docs"]
    for name, m in metas.items():
        if m["num_docs"] != n0:
            raise ValueError(
                f"field {name!r} indexed {m['num_docs']} docs != {n0}"
            )
    top = {
        "format_version": 1,
        "fields": {name: fields[name] for name in fields},
        "num_docs": int(n0),
    }
    seg.write_meta_named(index_dir, top, MF_META)
    top["field_metas"] = metas
    return top


class MultiFieldHandle:
    """Opened per-field IndexHandles, shared across queries."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.meta = seg.read_meta_named(index_dir, MF_META)
        self.handles = {
            name: IndexHandle(spark, field_dir(index_dir, name))
            for name in self.meta["fields"]
        }

    def warm(self) -> "MultiFieldHandle":
        for h in self.handles.values():
            h.warm()
        return self


def search_multifield(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    boosts: dict[str, float],
    k: int = 10,
    handle: MultiFieldHandle | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """dis_max top-k: score = max over fields of boost_f * bm25_f(doc).

    Exact: every field leg scores ALL its matches (a doc top-k in one field
    may be absent from another field's heap, so per-field top-k legs can't be
    merged exactly); the merge is a full-outer join + greatest() + global
    top-k.  Returns (doc_id, score).
    """
    handle = handle or MultiFieldHandle(spark, index_dir)
    legs = []
    for i, (name, boost) in enumerate(sorted(boosts.items())):
        h = handle.handles[name]
        s = search_all(
            spark, h.index_dir, query_text, handle=h
        ).select(
            "doc_id", (F.col("score") * F.lit(float(boost))).alias(f"_s{i}")
        )
        legs.append(s)
    merged = legs[0]
    for s in legs[1:]:
        merged = merged.join(s, "doc_id", "full")
    best = F.greatest(
        *[F.coalesce(F.col(f"_s{i}"), F.lit(0.0)) for i in range(len(legs))]
    ) if len(legs) > 1 else F.coalesce(F.col("_s0"), F.lit(0.0))
    score = F.round(best, round_to) if round_to is not None else best
    return (
        merged.withColumn("score", score)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )

"""Idempotent incremental indexing via delta generations.

v2 semantics (replaces the v1 full-rebuild): rows not yet indexed (anti-join
on the stable (repo, path, commit) key against every generation's doc_meta)
are built into a NEW generation — a full, independently manifest-resumable
segment set over ONLY the delta at ``index_dir/gen=K/``.  Each append
rewrites one top-level table, ``term_stats_merged/`` (per-term df/cf summed
over the generations); num_docs and total_terms are summed from the
generations' meta.json on the driver (``segments.global_stats``).  Queries
union the generations' postings/norms and score with these exact global
stats, so scores are EXACTLY what a full rebuild would produce (only
internal doc_id assignment, hence score-tie order, differs).  The
generation layout is read only through ``plans/segments.py``.

At 100 TB this is the only viable shape: an append of 0.1% of the corpus
costs one build over 0.1% of the rows plus a terms-level merge, instead of
re-paying the whole build.  Compaction (rewriting many small generations
into one) reuses ``build_index`` over the concatenated corpus — the
``full_rebuild=True`` escape hatch below.

Reference analogue: the scraper's resumable page_token upsert loop
(reference: backend/db/scrape_clinical_trials.py:464-557) — new pages are
merged into Postgres and OpenSearch is refreshed, without re-scraping old
pages.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_trial_searchengine_spark.plans import segments as seg
from clinical_trial_searchengine_spark.plans.build import build_index

_KEY = ["repo", "path", "commit"]


def _merge_global_stats(spark: SparkSession, index_dir: str,
                        gens: list[dict]) -> dict:
    """Write the merged term dictionary (per-term df/cf summed over the
    generations — a terms-level input, cheap at any corpus size) and return
    the global stats, summed on the driver from the generations' meta."""
    (
        seg.scan_generations(spark, index_dir, gens, seg.TERM_STATS)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .write.mode("overwrite")
        .parquet(seg.path_of(index_dir, seg.TERM_STATS_MERGED))
    )
    return seg.global_stats(index_dir, gens)


def incremental_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    full_rebuild: bool = False,
    max_generations: int = 8,
    max_delta_fraction: float = 0.5,
    **build_kwargs,
) -> dict:
    """Fold not-yet-indexed rows of ``corpus`` into ``index_dir``.

    Compaction policy (automatic): an append that would leave the index with
    more than ``max_generations`` generations, or with delta generations
    holding more than ``max_delta_fraction`` of all docs, triggers a full
    rebuild over ``corpus`` instead of stacking another delta — bounding the
    query-side union fan-out without anyone having to remember to call
    :meth:`SearchEngine.compact`.  ``max_generations=None`` disables the
    policy (deltas accumulate until an explicit ``full_rebuild=True``).
    The compacted result is score-identical to the delta path (global stats
    are exact either way; property: tests/test_incremental.py).
    """
    if not os.path.exists(os.path.join(index_dir, "meta.json")):
        out = build_index(spark, corpus, index_dir, **build_kwargs)
        seg.write_generations(
            index_dir,
            [{"gen": 0, "num_docs": int(out["num_docs"]), "base": 0}],
        )
        out["new_docs"] = out["num_docs"]
        return out

    meta = seg.read_meta(index_dir)
    gens = seg.read_generations(index_dir)
    seen = seg.doc_meta_global(spark, index_dir, gens).select(*_KEY)
    new = corpus.join(seen, _KEY, "left_anti")
    n_new = new.count()

    if full_rebuild:
        # compaction / explicit rebuild: all generations rewritten as one,
        # doc_ids reassigned globally (runs even with zero new docs)
        import shutil

        rebuild_kwargs = dict(build_kwargs)
        rebuild_kwargs.setdefault(
            "postings_codec", meta.get("postings_codec", "varint")
        )
        shutil.rmtree(index_dir)
        out = build_index(spark, corpus, index_dir, **rebuild_kwargs)
        seg.write_generations(
            index_dir,
            [{"gen": 0, "num_docs": int(out["num_docs"]), "base": 0}],
        )
        out["new_docs"] = n_new
        return out

    if n_new == 0:
        return {**meta, **seg.global_stats(index_dir, gens), "new_docs": 0}

    # -- automatic compaction check (policy above) --
    if max_generations is not None:
        total_docs = sum(int(g["num_docs"]) for g in gens) + n_new
        delta_docs = sum(
            int(g["num_docs"]) for g in gens if int(g["gen"]) > 0
        ) + n_new
        if (
            len(gens) + 1 > max_generations
            or delta_docs > max_delta_fraction * total_docs
        ):
            out = incremental_index(
                spark, corpus, index_dir, full_rebuild=True, **build_kwargs
            )
            out["compacted"] = True
            return out

    # delta generation: same analyzer/scoring/layout params as the parent
    gen_k = max(int(g["gen"]) for g in gens) + 1
    return _append_generation(
        spark, new, index_dir, meta, gens, gen_k, n_new, build_kwargs
    )


def _append_generation(spark, new, index_dir, meta, gens, gen_k, n_new,
                       build_kwargs):
    """Build the delta rows as generation ``gen_k`` and re-merge stats."""
    base = sum(int(g["num_docs"]) for g in gens)
    forced = dict(build_kwargs)
    for key in ("mode", "shard_size", "k1", "b", "norm_chunk"):
        forced[key] = meta[key]
    # appended generations keep the base index's wire codec (decode is
    # version-dispatched, so this is consistency, not correctness)
    forced["postings_codec"] = meta.get("postings_codec", "varint")
    out = build_index(
        spark, new, seg.gen_dir(index_dir, gen_k), **forced
    )
    gens = gens + [
        {"gen": gen_k, "num_docs": int(out["num_docs"]), "base": base}
    ]
    merged = _merge_global_stats(spark, index_dir, gens)
    seg.write_generations(index_dir, gens)
    result = {**meta, **merged, "new_docs": n_new, "generations": len(gens)}
    return result


def upsert_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    **kwargs,
) -> dict:
    """S5 REPLACE semantics without a full compaction: a row whose
    (repo, path) already exists under an OLDER commit supersedes it — the
    new version is folded in as a delta generation and the old versions'
    global doc_ids are TOMBSTONED, so queries serve only the new version
    immediately (reference: backend/db/scrape_clinical_trials.py:332-462,
    ON CONFLICT row+children replace).

    Lucene-parity approximation (documented): tombstoned docs stay masked
    out of results but keep counting in num_docs/avgdl/df until the next
    compaction — exactly how Lucene serves deletes between segment merges.
    Scores become oracle-exact again after ``compact()`` / any automatic
    compaction (which also clears the tombstone set).

    ``corpus`` should be the current-truth snapshot (at minimum a superset
    of the changed rows) — the automatic compaction policy rebuilds over it.
    """
    if not os.path.exists(os.path.join(index_dir, "meta.json")):
        return incremental_index(spark, corpus, index_dir, **kwargs)

    existing = seg.doc_meta_global(
        spark, index_dir, seg.read_generations(index_dir)
    )
    new = corpus.join(existing.select(*_KEY), _KEY, "left_anti")
    # old versions of re-committed (repo, path) keys -> tombstones.
    # Bounded by churn between compactions (same policy that caps generation
    # fan-out), so the collect stays small and broadcastable.
    superseded = existing.join(
        new.select("repo", "path").distinct(), ["repo", "path"], "left_semi"
    )
    tomb_ids = [int(r["doc_id"]) for r in superseded.select("doc_id").collect()]

    out = incremental_index(spark, corpus, index_dir, **kwargs)
    if out.get("compacted") or kwargs.get("full_rebuild"):
        # the rebuild indexed only current-truth rows: tombstones are moot
        seg.clear_tombstones(index_dir)
        out["tombstones"] = 0
        return out
    if tomb_ids:
        seg.write_tombstones(
            index_dir, seg.read_tombstones(index_dir) + tomb_ids
        )
    out["tombstones"] = len(seg.read_tombstones(index_dir))
    return out


def delete_documents(
    spark: SparkSession, keys: DataFrame, index_dir: str
) -> dict:
    """Tombstone every doc matching ``keys`` (repo, path) — the delete half
    of S5's replace/delete semantics.  Same Lucene-parity stats note as
    :func:`upsert_index`; re-adding a deleted (repo, path, commit) triple
    requires a new commit or a compaction (the seen-key anti-join skips
    exact re-adds by design — idempotent ingest)."""
    existing = seg.doc_meta_global(
        spark, index_dir, seg.read_generations(index_dir)
    )
    hit = existing.join(
        keys.select("repo", "path").distinct(), ["repo", "path"], "left_semi"
    )
    tomb_ids = [int(r["doc_id"]) for r in hit.select("doc_id").collect()]
    if tomb_ids:
        seg.write_tombstones(
            index_dir, seg.read_tombstones(index_dir) + tomb_ids
        )
    return {
        "deleted": len(tomb_ids),
        "tombstones": len(seg.read_tombstones(index_dir)),
    }

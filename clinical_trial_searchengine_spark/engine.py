"""SearchEngine facade — the `SearchEngine.search(query, k)` API surface
(SURVEY.md §1.4: replaces the reference's FastAPI + pydantic layer,
reference: backend/api/main.py:75-194).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from clinical_trial_searchengine_spark.plans.build import build_index
from clinical_trial_searchengine_spark.plans.query import (
    IndexHandle,
    profile_query,
    search,
    search_all,
    search_many,
    search_many_rows,
)
from clinical_trial_searchengine_spark.plans.segments import read_meta


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self._handle: IndexHandle | None = None

    def build(self, corpus: DataFrame, **kwargs) -> dict:
        self._handle = None  # segments changed
        return build_index(self.spark, corpus, self.index_dir, **kwargs)

    def add_documents(self, corpus: DataFrame, **kwargs) -> dict:
        """Fold new rows into the index as a delta generation (exact global
        stats re-merged); no-op for already-indexed keys.  The reference's
        upsert-then-refresh lifecycle
        (reference: backend/db/scrape_clinical_trials.py:464-557)."""
        from clinical_trial_searchengine_spark.streaming.incremental import (
            incremental_index,
        )

        self._handle = None
        return incremental_index(self.spark, corpus, self.index_dir, **kwargs)

    def upsert_documents(self, corpus: DataFrame, **kwargs) -> dict:
        """S5 REPLACE semantics: a re-committed (repo, path) supersedes its
        older versions immediately (tombstone mask), without waiting for a
        compaction (reference: backend/db/scrape_clinical_trials.py:332-462).
        Stats stay Lucene-parity-stale until compaction — see
        streaming/incremental.upsert_index."""
        from clinical_trial_searchengine_spark.streaming.incremental import (
            upsert_index,
        )

        self._handle = None
        return upsert_index(self.spark, corpus, self.index_dir, **kwargs)

    def transcode(self, postings_codec: str) -> dict:
        """Rewrite the postings (base + every delta generation) in another
        wire codec — varint (v1) <-> pfor (v2) — without re-tokenizing:
        one partition-preserving decode->re-encode pass + atomic dir swap
        (plans/segments.transcode_postings).  Queries work mid-migration:
        decode version-dispatches per buffer."""
        from clinical_trial_searchengine_spark.plans.segments import (
            transcode_postings,
        )

        self._handle = None  # postings bytes changed
        return transcode_postings(self.spark, self.index_dir, postings_codec)

    def delete_documents(self, keys: DataFrame) -> dict:
        """Tombstone every doc matching ``keys`` (repo, path)."""
        from clinical_trial_searchengine_spark.streaming.incremental import (
            delete_documents,
        )

        self._handle = None
        return delete_documents(self.spark, keys, self.index_dir)

    def compact(self, corpus: DataFrame, **kwargs) -> dict:
        """Rewrite all generations as one (full rebuild over the given
        corpus — use when generation count grows enough to hurt query
        fan-out)."""
        from clinical_trial_searchengine_spark.streaming.incremental import (
            incremental_index,
        )

        self._handle = None
        return incremental_index(
            self.spark, corpus, self.index_dir, full_rebuild=True, **kwargs
        )

    @property
    def meta(self) -> dict:
        return read_meta(self.index_dir)

    def handle(self) -> IndexHandle:
        if self._handle is None:
            self._handle = IndexHandle(self.spark, self.index_dir)
        return self._handle

    def warm(self, postings: bool = True) -> "SearchEngine":
        """Persist norms (+ postings) for a query-serving session."""
        self.handle().warm(postings)
        return self

    def search(self, query_text: str, k: int = 10, **kwargs) -> DataFrame:
        return search(
            self.spark, self.index_dir, query_text, k,
            handle=self.handle(), **kwargs,
        )

    def search_all(self, query_text: str) -> DataFrame:
        return search_all(
            self.spark, self.index_dir, query_text, handle=self.handle()
        )

    def search_many(
        self, query_texts: dict[str, str], k: int = 10, **kwargs
    ) -> DataFrame:
        """Batch top-k for a query SET in one distributed job — the eval
        shape (reference: backend/evaluation/evaluation_pipeline.py).
        ``filters=``/``boosts=``: per-query_id filter-context / boost
        tables (see plans.query.search_many)."""
        return search_many(
            self.spark, self.index_dir, query_texts, k,
            handle=self.handle(), **kwargs,
        )

    def profile(self, query_text: str, k: int = 10):
        """(decision, stats_df): replay the adaptive-kernel choice and run
        the pruned kernel in profile mode — per-(gen, shard, term) block
        decode counts.  See plans.query.profile_query."""
        return profile_query(
            self.spark, self.index_dir, query_text, k, handle=self.handle()
        )

    def search_many_rows(
        self, query_texts: dict[str, str], k: int = 10, **kwargs
    ) -> dict[str, list[tuple[int, float]]]:
        """Serving twin of :meth:`search_many`: same one-job query-set
        kernel, global top-k merged on the driver over the bounded
        per-shard candidates (coordinating-node shape) — no Window
        exchange."""
        return search_many_rows(
            self.spark, self.index_dir, query_texts, k,
            handle=self.handle(), **kwargs,
        )

    def serving(self):
        """A thread-safe :class:`SearchServer` over this engine — the
        concurrent-load surface: each request runs one plan-cached
        :meth:`search` on a pool as wide as the driver's CPUs, and
        identical in-flight requests share one search.  For a known query
        set use :meth:`search_many_rows` (one job).  Call :meth:`warm`
        first."""
        from clinical_trial_searchengine_spark.serving import SearchServer

        return SearchServer(self)

    def search_topk_rows(self, query_text: str, k: int = 10, **kwargs):
        """Driver-side list[(doc_id, score)] — convenience for tests/bench."""
        return [
            (r["doc_id"], r["score"])
            for r in self.search(query_text, k, **kwargs).collect()
        ]

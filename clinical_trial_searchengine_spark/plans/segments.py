"""Global segment layout on disk + build manifest (lineage/resume).

Layout under ``index_dir`` (Parquet here; on a cluster each dataset maps 1:1
to an Iceberg table — the write calls are isolated in this module so swapping
``.parquet`` for ``.writeTo(...)`` is a one-file change):

    meta.json        analyzer mode, shard_size, bm25 params, counts
    doc_meta/        doc_id, repo, path, commit, lang, doc_len, content_sha256
    stats/           single row: num_docs, avg_doc_len, total_terms
    term_stats/      term, df, cf  (GLOBAL stats — the term dictionary,
                     looked up term-pruned at query time; SURVEY.md §2.8-B5:
                     stats must be exact global values)
    postings/        shard=K/ ... term, n_blocks, postings:binary
                     (doc-sharded: shard = doc_id // shard_size; within each
                     file sorted by term so parquet min/max prunes by term;
                     format v2 drops per-row df/cf — Lucene's
                     term-metadata/posting-data split)
    norms/           shard, chunk, first_doc_id, n, doc_lens:binary(int32 LE)
    manifest/        stage, partition_id, status, rows_in, terms_out, sha_ok,
                     attempt, started_at, finished_at
    metrics/         stage, partition_id, metric, value

Every index is a list of generations (:func:`read_generations`): the
segment set above at the root is generation 0, and each incremental append
adds generation K as the same segment set at ``gen=K/``, over only its
delta rows, with doc_ids offset by the generation's ``base``.  The root
may also hold

    generations.json   [{gen, base, num_docs}, ...] (absent: generation 0
                       alone)
    term_stats_merged/ term, df, cf summed over the generations; exists iff
                       there is more than one
    tombstones.json    GLOBAL doc_ids masked by upsert/delete

With several generations the global num_docs/total_terms are the sums of
the generations' meta.json values (:func:`global_stats`).  This module is
the one reader of that layout: :func:`scan_generations`,
:func:`doc_meta_global`, :func:`term_stats_path` and :func:`global_stats`
serve the query handle, incremental indexing and transcoding alike.

The doc-sharded layout (index partitioned by document range, each shard
holding its own posting lists) is what makes query-time scoring a
per-partition bounded-heap kernel + global top-k merge (north rule), instead
of a doc_id shuffle: a query touches <= n_terms rows per shard.  The
reference gets this for free from its single OpenSearch shard
(reference: backend/search/mapping.json:3-7); we need it explicitly.
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_trial_searchengine_spark.functions.codec import check_codec

DOC_META = "doc_meta"
STATS = "stats"
TERM_STATS = "term_stats"
POSTINGS = "postings"
NORMS = "norms"
MANIFEST = "manifest"
METRICS = "metrics"

# -- delta generations (incremental indexing) --------------------------------
# generation 0 lives at the index root; generation K>0 is a full,
# independently-resumable segment set over ONLY its delta rows at
# index_dir/gen=K/ with doc_ids offset by `base` at query time.  Exact global
# per-term stats live in the merged table below, refreshed on every append.
GENERATIONS = "generations.json"
TERM_STATS_MERGED = "term_stats_merged"

# -- tombstones (upsert/delete between compactions) ---------------------------
# GLOBAL doc_ids of superseded (re-committed (repo, path)) or deleted docs.
# Applied as a scoring mask inside the query kernels; global BM25 stats keep
# counting tombstoned docs until the next compaction — exactly Lucene's
# deleted-docs semantics (deletes are masks, stats refresh at segment merge).
# Bounded by churn between compactions: the same compaction policy that caps
# generation fan-out caps tombstone growth, so the set stays broadcastable.
TOMBSTONES = "tombstones.json"


def read_tombstones(index_dir: str) -> list[int]:
    p = os.path.join(index_dir, TOMBSTONES)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def write_tombstones(index_dir: str, doc_ids: list[int]) -> None:
    write_meta_named(index_dir, sorted(set(int(d) for d in doc_ids)), TOMBSTONES)


def clear_tombstones(index_dir: str) -> None:
    p = os.path.join(index_dir, TOMBSTONES)
    if os.path.exists(p):
        os.remove(p)


def gen_dir(index_dir: str, gen: int) -> str:
    return index_dir if gen == 0 else os.path.join(index_dir, f"gen={gen}")


def read_generations(index_dir: str) -> list[dict]:
    """[{gen, base, num_docs}, ...] ordered by gen.  An index without
    ``generations.json`` is the single generation 0 at the root."""
    p = os.path.join(index_dir, GENERATIONS)
    if not os.path.exists(p):
        return [{"gen": 0, "base": 0,
                 "num_docs": int(read_meta(index_dir)["num_docs"])}]
    with open(p) as f:
        return json.load(f)


def scan_generations(spark: SparkSession, index_dir: str, gens: list[dict],
                     name: str) -> DataFrame:
    """Dataset ``name`` of every generation, one parquet scan each, tagged
    with its ``gen`` and unioned (no Union node for a single generation).
    Doc ids stay generation-local."""
    return reduce(DataFrame.unionByName, [
        spark.read.parquet(path_of(gen_dir(index_dir, int(g["gen"])), name))
        .withColumn("gen", F.lit(int(g["gen"])))
        for g in gens
    ])


def doc_meta_global(spark: SparkSession, index_dir: str,
                    gens: list[dict]) -> DataFrame:
    """doc_meta of every generation with GLOBAL doc_ids (``doc_id + base``
    only where ``base != 0``).  Generations built with and without
    ``content_sha256`` union with NULLs in the missing column."""
    parts = []
    for g in gens:
        dm = spark.read.parquet(
            path_of(gen_dir(index_dir, int(g["gen"])), DOC_META)
        )
        if int(g["base"]):
            dm = dm.withColumn(
                "doc_id", F.col("doc_id") + F.lit(int(g["base"]))
            )
        parts.append(dm)
    return reduce(
        lambda a, p: a.unionByName(p, allowMissingColumns=True), parts
    )


def term_stats_path(index_dir: str, gens: list[dict]) -> str:
    """The global term dictionary (term, df, cf): generation 0's own
    term_stats for a single generation; the merged table, which exists iff
    there is more than one generation, otherwise."""
    return path_of(
        index_dir, TERM_STATS_MERGED if len(gens) > 1 else TERM_STATS
    )


def global_stats(index_dir: str, gens: list[dict]) -> dict:
    """Global num_docs, avg_doc_len and total_terms, read on the driver:
    the root meta.json values for a single generation, else the sums of
    every generation's meta.json with ``avg_doc_len = total_terms /
    num_docs`` — Python's correctly rounded division of the two integers,
    the same double Spark's ``total_terms / num_docs`` gives."""
    if len(gens) == 1:
        meta = read_meta(index_dir)
        return {k: meta[k] for k in ("num_docs", "avg_doc_len", "total_terms")}
    metas = [read_meta(gen_dir(index_dir, int(g["gen"]))) for g in gens]
    num_docs = sum(int(m["num_docs"]) for m in metas)
    total_terms = sum(int(m["total_terms"]) for m in metas)
    return {
        "num_docs": num_docs,
        "avg_doc_len": total_terms / num_docs if num_docs else 0.0,
        "total_terms": total_terms,
    }


def write_generations(index_dir: str, gens: list[dict]) -> None:
    write_meta_named(index_dir, gens, GENERATIONS)


def path_of(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, name)


def write_meta_named(index_dir: str, meta: dict, filename: str) -> None:
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, filename + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)
    os.replace(tmp, os.path.join(index_dir, filename))


def read_meta_named(index_dir: str, filename: str) -> dict:
    with open(os.path.join(index_dir, filename)) as f:
        return json.load(f)


def write_meta(index_dir: str, meta: dict) -> None:
    write_meta_named(index_dir, meta, "meta.json")


def read_meta(index_dir: str) -> dict:
    return read_meta_named(index_dir, "meta.json")


# ---------------------------------------------------------------------------
# Manifest: append-only parquet; latest row per (stage, partition_id) wins.
# Mirrors the reference's `ingestion_state` checkpoint row + restartable-batch
# pattern (reference: backend/db/schema.sql:93-99,
# backend/db/migrate_parsed_criteria.py:53-64).
# ---------------------------------------------------------------------------

def _append_rows_parquet(dir_path: str, table) -> None:
    """Driver-local single-row appends via PyArrow — a Spark write job costs
    multiple seconds per call and the manifest is written ~10x per build.
    (On a real cluster these become catalog-table appends.)"""
    import uuid

    import pyarrow.parquet as pq

    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(table, os.path.join(dir_path, f"part-{uuid.uuid4().hex}.parquet"))


def manifest_append(
    spark: SparkSession,
    index_dir: str,
    stage: str,
    partition_id: int,
    status: str,
    rows_in: int = -1,
    terms_out: int = -1,
    sha_ok: bool = True,
    attempt: int = 1,
    started_at: float | None = None,
) -> None:
    import pyarrow as pa

    now = time.time()
    table = pa.table(
        {
            "stage": pa.array([stage], pa.string()),
            "partition_id": pa.array([partition_id], pa.int32()),
            "status": pa.array([status], pa.string()),
            "rows_in": pa.array([rows_in], pa.int64()),
            "terms_out": pa.array([terms_out], pa.int64()),
            "sha_ok": pa.array([sha_ok], pa.bool_()),
            "attempt": pa.array([attempt], pa.int32()),
            "started_at": pa.array([float(started_at or now)], pa.float64()),
            "finished_at": pa.array([now], pa.float64()),
        }
    )
    _append_rows_parquet(path_of(index_dir, MANIFEST), table)


def manifest_read(spark: SparkSession, index_dir: str) -> DataFrame | None:
    p = path_of(index_dir, MANIFEST)
    if not os.path.exists(p):
        return None
    return spark.read.parquet(p)


def manifest_done(spark: SparkSession, index_dir: str) -> set[tuple[str, int]]:
    """(stage, partition_id) pairs whose LATEST manifest row is 'done'."""
    m = manifest_read(spark, index_dir)
    if m is None:
        return set()
    latest = (
        m.groupBy("stage", "partition_id")
        .agg(F.max(F.struct("finished_at", "status")).alias("last"))
        .select("stage", "partition_id", F.col("last.status").alias("status"))
    )
    return {
        (r["stage"], r["partition_id"])
        for r in latest.where(F.col("status") == "done").collect()
    }


def manifest_latest(spark: SparkSession, index_dir: str) -> dict:
    """Latest manifest row per (stage, partition_id) as a dict of
    {'status': ..., 'sha_ok': ...} — used to check per-stage flags (e.g.
    whether doc_meta's sha_ok column was actually computed or is the
    verify_sha=False placeholder)."""
    m = manifest_read(spark, index_dir)
    if m is None:
        return {}
    latest = (
        m.groupBy("stage", "partition_id")
        .agg(F.max(F.struct("finished_at", "status", "sha_ok")).alias("last"))
        .select(
            "stage", "partition_id",
            F.col("last.status").alias("status"),
            F.col("last.sha_ok").alias("sha_ok"),
        )
    )
    return {
        (r["stage"], r["partition_id"]): {
            "status": r["status"], "sha_ok": r["sha_ok"]
        }
        for r in latest.collect()
    }


def metrics_append(
    spark: SparkSession, index_dir: str, rows: list[tuple[str, int, str, float]]
) -> None:
    if not rows:
        return
    import pyarrow as pa

    table = pa.table(
        {
            "stage": pa.array([r[0] for r in rows], pa.string()),
            "partition_id": pa.array([r[1] for r in rows], pa.int32()),
            "metric": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([float(r[3]) for r in rows], pa.float64()),
        }
    )
    _append_rows_parquet(path_of(index_dir, METRICS), table)


# ---------------------------------------------------------------------------
# postings transcoding (wire-codec migration without a rebuild)
# ---------------------------------------------------------------------------


def _make_transcode_kernel(codec: str):
    """mapInArrow kernel: decode a batch's posting buffers
    (version-dispatched) and re-encode them with ``codec``, each in ONE
    vectorized group pass.  Row order, term/cf/n_postings columns, and the
    group/shard partition columns pass through unchanged."""
    import pyarrow as pa

    from clinical_trial_searchengine_spark.functions.codec import (
        decode_postings_group,
        encode_postings_group,
    )

    def kernel(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch]).combine_chunks()
            if len(tbl) == 0:
                continue
            ids, tfs, bounds = decode_postings_group(
                tbl.column("postings").to_pylist()
            )
            bufs, n_blocks = encode_postings_group(
                ids, tfs.astype("uint64"), bounds, codec=codec
            )
            out = pa.table(
                {
                    "term": tbl.column("term"),
                    "n_postings": tbl.column("n_postings"),
                    "cf_local": tbl.column("cf_local"),
                    "n_blocks": pa.array(
                        n_blocks.astype("int32"), pa.int32()
                    ),
                    "postings": pa.array(bufs, pa.binary()),
                    "shard": tbl.column("shard"),
                }
            )
            yield from out.to_batches()

    return kernel


def transcode_postings(
    spark: SparkSession, index_dir: str, postings_codec: str
) -> dict:
    """Rewrite an index's postings in another wire codec WITHOUT a rebuild.

    The 100 TB migration path: no re-tokenize, no shuffle — one
    partition-preserving decode->re-encode pass over the postings parquet
    (the only shard-local sort is restoring within-file term order so
    parquet min/max row-group pruning keeps working), then a two-step
    directory swap (rename old -> ``postings__transcode_old``, rename new
    into place, delete old; a crash between the renames leaves the old
    directory intact under that name for manual restore — each rename is
    atomic, the pair is not).  Applies to the base segment set and every delta
    generation; norms/doc_meta/term_stats are codec-independent and
    untouched.  Queries need no migration step at all — decode
    version-dispatches per buffer, so even a half-migrated index (e.g.
    resuming after a crash between generations) serves correctly.

    Returns {"dirs": n, "rows": n, "codec": codec}.
    """
    import shutil

    check_codec(postings_codec)
    gens = read_generations(index_dir)
    total_rows = 0
    for g in gens:
        root = gen_dir(index_dir, int(g["gen"]))
        meta = read_meta(root)
        src = path_of(root, POSTINGS)
        tmp = src + "__transcode_tmp"
        bak = src + "__transcode_old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(bak, ignore_errors=True)
        df = spark.read.parquet(src)
        n_groups = int(meta.get("n_resume_groups", 1))
        schema = (
            "term string, n_postings long, cf_local long, "
            "n_blocks int, postings binary, shard int"
        )
        out = (
            df.select(
                "term", "n_postings", "cf_local", "n_blocks", "postings",
                "shard",
            )
            # restore within-task term order BEFORE the kernel (which is
            # order-preserving): a read task may concatenate several source
            # files with interleaved term ranges; without this local sort
            # the rewritten files lose the per-file term min/max tightness
            # the query scan's row-group skip relies on.  (Operating on the
            # kernel OUTPUT instead trips Spark's ArrowColumnVector row
            # accessor on the binary column — UNSUPPORTED_CALL getBinary —
            # which is also why `group` is recomputed below via withColumn,
            # the same row-projection pattern the build's write uses.)
            .sortWithinPartitions("shard", "term")
            .mapInArrow(_make_transcode_kernel(postings_codec), schema)
            .withColumn("group", F.col("shard") % n_groups)
        )
        out.write.mode("overwrite").partitionBy("group", "shard").parquet(tmp)
        total_rows += int(spark.read.parquet(tmp).count())
        os.rename(src, bak)
        os.rename(tmp, src)
        shutil.rmtree(bak)
        meta["postings_codec"] = postings_codec
        write_meta(root, meta)
    return {
        "dirs": len(gens),
        "rows": total_rows,
        "codec": postings_codec,
    }

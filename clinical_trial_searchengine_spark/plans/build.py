"""Index build: corpus -> compressed doc-sharded segments.

One build path for every mode and every multifield sub-build (SURVEY.md
§3.4), all vectorized:

  read corpus -> deterministic doc_id assignment
  -> doc_meta scan: metadata + sha256 invariant + doc_len (JVM token-count
     expression) in one projection -> global stats
  -> pack kernel (mapInArrow): tokenize, key every (doc, term) pair by
     (shard, term_bucket, salt), emit one row of flat buffers per group
  -> packed shuffle: groupBy(shard, term_bucket, salt) -> unpack + encode
     kernel (delta + varint/pfor + block-max metadata, functions/codec.py)
  -> shard shuffle + (shard, term, salt) sort -> inline salted-run merge
     in the SAME task -> write postings (partitioned by shard)
  -> term_stats and norms from the written parquet, manifest, metrics.
     ONE streaming pass from tokenize to parquet: no persist of the pairs
     or the encoded relation, no second read, no hot-term shuffle.

Scale + performance notes (the part that matters at 10^12 docs):
* doc_id = global rank under (repo, path, commit): ONE range shuffle +
  in-partition sort + monotonically_increasing_id, then a tiny collected
  per-partition offset table.  Rank is independent of partition boundaries,
  so resume/rerun reassigns identical ids; no global window, no second
  exchange.
* The pack kernel counts tf per (doc, distinct term) in-kernel (A8) and
  ships each group's pairs as flat binary buffers: the encode exchange
  moves ~500x fewer rows than one row per pair.
* The encode kernel processes a whole (shard, term_bucket, salt) group and
  encodes each term with NumPy inside — thousands of terms per group
  amortize the per-group Arrow overhead that a per-term grouping would pay
  10^8 times at scale.  term_buckets (= spark.sql.shuffle.partitions)
  caps group memory.
* Hot terms ('def', 'the', ...; reference-domain analogues 'patient',
  'trial') are salted into contiguous doc_id sub-ranges inside the pack
  kernel; only salted runs go through the merge kernel, everything else
  bypasses it.  Salted == unsalted output byte-identically (property-tested).
* Per-term df/cf are EXACT GLOBAL sums of the encode kernels' partial counts,
  stored in the term_stats dictionary (never per-shard — per-shard stats
  would silently change BM25, SURVEY.md §2.8-B5; the reference's single
  shard makes stats exact, ours must too).  Postings rows don't repeat them:
  query-time idf reads term_stats pruned to the query terms.
* Resume: stage-grained manifest + per-shard-group postings writes, each
  group directory overwritten atomically (idempotent).  Reference analogue:
  page_token checkpoint (backend/db/scrape_clinical_trials.py:483-543).
* persist_input: local corpora (and benchmarks) persist the ASSIGNED join
  (corpus + doc_id) because it is consumed by 2 content passes (tokenize,
  doc_meta/sha); the raw corpus itself is never persisted — the assign key
  scan stays column-pruned and content is cached exactly once.  On a real
  cluster reading Iceberg, leave False and let the scans re-read.
"""

from __future__ import annotations

import contextlib
import math
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from clinical_trial_searchengine_spark.functions.analysis import STOPWORDS
from clinical_trial_searchengine_spark.functions.codec import (
    check_codec,
    encode_postings,
    encode_postings_group,
)
from clinical_trial_searchengine_spark.plans import segments as seg

DEFAULT_SHARD_SIZE = 100_000  # docs per shard; ~10-50M on a real cluster
DEFAULT_NORM_CHUNK = 65_536   # doc_lens per norms row (256 KiB int32 cells)

_MID_MASK = (1 << 33) - 1  # monotonically_increasing_id: pid << 33 | row


# ---------------------------------------------------------------------------
# doc_id assignment
# ---------------------------------------------------------------------------


# Above this many docs the key->doc_id mapping stops being broadcastable
# (~80 B/key -> ~320 MB at the cap) and assignment falls back to the full
# range shuffle; at that corpus size the build's encode shuffle dominates
# and a second content shuffle is the lesser cost vs a multi-GB broadcast.
_BROADCAST_MAP_CAP = 4_000_000

_KEYS = ("repo", "path", "commit")


def _ranked_keys(df: DataFrame, num_partitions: int):
    """Range-shuffle + in-partition sort + per-partition offsets -> global
    rank, persisted so the offset collection and every downstream consumer
    see the SAME materialized partitioning (range-partitioner sampling is
    not re-run).  Returns (persisted ranged df with _pid/_local, offsets,
    total rows)."""
    ranged = (
        df.repartitionByRange(num_partitions, *_KEYS)
        .sortWithinPartitions(*_KEYS)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", (F.col("_mid") / (_MID_MASK + 1)).cast("int"))
        .withColumn("_local", F.col("_mid").bitwiseAND(F.lit(_MID_MASK)))
        .drop("_mid")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return ranged, offsets, acc


def _with_offsets(ranged: DataFrame, offsets: dict) -> DataFrame:
    off_df = F.broadcast(
        ranged.sparkSession.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long"
        )
    )
    return (
        ranged.join(off_df, "_pid")
        .withColumn("doc_id", F.col("_off") + F.col("_local"))
        .drop("_pid", "_local", "_off")
    )


class _CacheHandle:
    """Unpersist handle covering every relation a caller must release."""

    def __init__(self, dfs):
        self._dfs = dfs

    def unpersist(self):
        for d in self._dfs:
            d.unpersist()


def assign_doc_ids(
    corpus: DataFrame,
    num_partitions: int | None = None,
    persist_output: bool = False,
) -> DataFrame:
    """Dense doc_id = global rank under (repo, path, commit).

    The rank is computed over the KEY COLUMNS ONLY (one range shuffle +
    in-partition sort of ~100-byte rows + a tiny collected offset table —
    no global Window, SURVEY.md §7 step 3), then broadcast-hash-joined back
    to the corpus: the content bytes never move for doc_id assignment, and
    the poorly-scaling serial fraction of the old full-row range shuffle
    (sort + persist of every content byte before a single token is cut)
    disappears from the critical path.  Above ``_BROADCAST_MAP_CAP`` docs
    the mapping stops being broadcastable and assignment falls back to the
    full-row range shuffle (v1 path) — at that scale the encode shuffle
    dominates the build and Catalyst would pick a sort-merge join anyway.

    doc_id is the same deterministic rank on both paths (resume/rerun
    reassigns identical ids; property: tests/test_build_invariants.py).

    ``persist_output``: materialize the joined (corpus + doc_id) relation
    once (MEMORY_AND_DISK) so the multiple downstream content passes
    (tokenize, doc_meta/sha) read the cache instead of re-paying the source
    scan + broadcast probe per action — the small/medium-scale fast path
    (build_index passes its persist_input flag through).  At 100 TB leave
    it False: re-scanning Iceberg twice beats persisting the corpus.
    """
    spark = corpus.sparkSession
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ranged_keys, offsets, total = _ranked_keys(
        corpus.select(*_KEYS), num_partitions
    )
    # (repo, path, commit) is the document identity everywhere (manifest,
    # upsert, tombstones); a duplicated key would m×n-explode the mapping
    # join, or take two doc_ids on the full-row path — corrupt silently
    # either way.  The check is one agg over the persisted ~100-byte key
    # rows, run before the paths split.
    if ranged_keys.select(*_KEYS).distinct().count() != total:
        ranged_keys.unpersist()
        raise ValueError(
            "duplicate (repo, path, commit) keys in corpus — the key is "
            "the document identity; dedupe upstream (ingest/upsert do)"
        )
    if total > _BROADCAST_MAP_CAP:
        ranged_keys.unpersist()
        ranged, offsets, _ = _ranked_keys(corpus, num_partitions)
        out = _with_offsets(ranged, offsets)
        out._ctse_persisted = ranged
        return out
    mapping = _with_offsets(ranged_keys, offsets).select(*_KEYS, "doc_id")
    # null-safe equi-join: a NULL key column must not silently drop the
    # row from the index (inner equi-join semantics) — it ranked and got
    # a doc_id like any other row.
    cond = None
    for c in _KEYS:
        e = corpus[c].eqNullSafe(mapping[c])
        cond = e if cond is None else cond & e
    out = corpus.join(F.broadcast(mapping), cond).drop(
        *[mapping[c] for c in _KEYS]
    )
    if persist_output:
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        out._ctse_persisted = _CacheHandle([out, ranged_keys])
    else:
        out._ctse_persisted = ranged_keys
    return out


# ---------------------------------------------------------------------------
# kernels
# ---------------------------------------------------------------------------


# Code points outside ASCII whose Python ``str.lower()`` holds a token
# character: KELVIN SIGN lowers to "k", and U+0130 (I WITH DOT ABOVE) to
# "i" + U+0307, whose combining dot then ends the token.  Java's (?i) folds
# ASCII only, so the JVM token regex names both explicitly.
_KELVIN, _I_DOT = "\u212a", "\u0130"
_TOKEN_REGEX = rf"(?i)[a-z0-9{_KELVIN}]+{_I_DOT}?|{_I_DOT}"


# Whole tokens that are stopwords (the porter filter), for regexp_count.  A
# token character — or U+0130, whose "i" would extend the token — next to
# the word makes it part of a longer token.  The leading first-letter
# lookahead rejects most positions before the lookbehind runs (measured ~2x
# faster than without it).
_STOP_FIRST = "".join(sorted({w[0] for w in STOPWORDS}))
_STOP_WORDS = "|".join(sorted(STOPWORDS))
_STOPWORD_REGEX = (
    rf"(?i)(?=[{_STOP_FIRST}])(?<![a-z0-9{_KELVIN}])(?:{_STOP_WORDS})"
    rf"(?![a-z0-9{_KELVIN}{_I_DOT}])"
)


def _make_doc_len_col(mode: str):
    """doc_len = analyzed token count as a pure JVM expression (no Python
    worker, no lowered copy of the content), equal to analyze_batch's
    count in both modes (property-tested).  porter subtracts the
    whole-token stopword matches: stemming never changes the count.

    regexp_count never builds an output string (a collapse-to-marker +
    translate form emitted a rewritten copy of the content per row —
    measured 2.2x slower on the 500k-doc pass; the older
    regexp_extract_all form materialized a java.lang.String per token,
    ~1.6 ms/doc)."""
    n = F.regexp_count(F.col("content"), F.lit(_TOKEN_REGEX))
    if mode == "porter":
        n = n - F.regexp_count(F.col("content"), F.lit(_STOPWORD_REGEX))
    elif mode != "standard":
        raise ValueError(f"unknown analyzer mode: {mode}")
    return n.cast("int")


def _encode_term_arrays(shard, salt, term_array, doc_ids, tfs,
                        codec: str = "varint"):
    """Encode body: one group's (term StringArray, doc_ids uint64, tfs
    uint64) -> encoded per-term rows (term-ascending, doc_ids ascending
    within a term, whatever the input row order)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    denc = pc.dictionary_encode(term_array)
    codes = denc.indices.to_numpy().astype(np.int64)
    dic = denc.dictionary
    # rank codes under lexicographic term order == factorize(sort=True)
    sorter = pc.array_sort_indices(dic).to_numpy().astype(np.int64)
    rank = np.empty(len(dic), dtype=np.int64)
    rank[sorter] = np.arange(len(dic))
    ranked = rank[codes]
    order = np.lexsort((doc_ids, ranked))
    ranked, doc_ids, tfs = ranked[order], doc_ids[order], tfs[order]
    change = np.flatnonzero(
        np.concatenate(([True], ranked[1:] != ranked[:-1]))
    )
    bounds = np.concatenate((change, [len(ranked)]))
    out_post, out_nb = encode_postings_group(doc_ids, tfs, bounds,
                                             codec=codec)
    n_out = len(change)
    return pa.table(
        {
            "shard": pa.array(np.full(n_out, shard, np.int32), pa.int32()),
            "term": pc.take(dic, pa.array(sorter[ranked[change]])),
            "salt": pa.array(np.full(n_out, salt, np.int32), pa.int32()),
            "n_postings": pa.array(np.diff(bounds), pa.int64()),
            "cf_local": pa.array(
                np.add.reduceat(tfs, change).astype(np.int64), pa.int64()
            ),
            "n_blocks": pa.array(out_nb.astype(np.int32), pa.int32()),
            "postings": pa.array(list(out_post), type=pa.binary()),
        }
    )


# ---------------------------------------------------------------------------
# packed encode shuffle
# ---------------------------------------------------------------------------

# One row per (map task, shard, term_bucket, salt): all of that group's
# pairs as four flat binary columns.  The encode exchange then moves
# ~10^5 fat rows instead of one row per (doc, term) pair — same bytes,
# ~500x fewer rows — which removes the per-row UnsafeRow serialize/
# deserialize + sort + Arrow-conversion costs that dominated the build's
# shuffle stages (guide §2.3 / §8: shuffle few fat rows, not many small
# ones, when the grouping is already decided).
_PACK_SCHEMA = (
    "shard int, bucket int, salt int, term_lens binary, term_data binary, "
    "doc_ids binary, tfs binary"
)


def _string_array_parts(arr):
    """(data uint8[], starts int64[], lens int64[]) of a utf8 pa.Array.
    Reads the offsets as int32, so any type but ``pa.string()`` (e.g.
    ``large_string``'s int64 offsets) raises instead of being misread."""
    import pyarrow as pa

    if arr.type != pa.string():
        raise TypeError(f"expected a pa.string() array, got {arr.type}")
    arr = arr.combine_chunks() if hasattr(arr, "combine_chunks") else arr
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return data, offs[:-1], np.diff(offs)


def make_tokenize_pack_kernel_arrow(
    mode: str, shard_size: int, term_buckets: int,
    n_docs: int, hot_df_threshold: int, max_salts: int,
):
    """mapInArrow kernel: (doc_id, content) batches -> packed group rows.

    Tokenizes each batch with :func:`analyze_flat_arrow` (byte-LUT / Arrow
    kernels, no per-token Python string), then — instead of emitting one
    row per (doc, term) pair into the exchange — assigns each pair its
    (shard, term_bucket, salt) key IN the kernel (bucket = crc32(term) %
    buckets via the vectorized dictionary hash) and packs each group's
    pairs into one row of flat buffers.  Term strings stay Arrow buffers
    end to end (per-pair materialization is a C++ ``pc.take`` + slice).
    Yields one packed RecordBatch per input batch, so worker memory is
    bounded by the batch size, not the partition: the encode groupBy
    concatenates however many packed rows a group gets.

    Hot-term salting is decided PER BATCH from local density: est_df =
    batch term count x (n_docs / batch docs); n_salts = clamp(ceil(est /
    hot_df_threshold), 1, max_salts); salt = (doc_id % shard_size) x
    n_salts / shard_size, truncated.  It CAN disagree across batches for
    borderline terms, which is free: salting only decides grouping, and
    the write-pass merge kernel reconciles ARBITRARY runs of a (shard,
    term) into byte-identical postings (argsort by unique doc_ids — the
    same property that makes salted == unsalted).  The bucket likewise
    only decides grouping: every pair of a term keeps one bucket, and the
    write pass re-buckets encoded rows with the JVM hash.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from clinical_trial_searchengine_spark.functions.analysis import (
        analyze_flat_arrow,
    )
    from clinical_trial_searchengine_spark.functions.vechash import (
        crc32_many,
    )

    def _pack(batch):
        names = batch.schema.names
        doc_ids = (
            batch.column(names.index("doc_id"))
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        row_idx, dict_idx, dictionary, tfs, _ = analyze_flat_arrow(
            batch.column(names.index("content")), mode
        )
        if len(dict_idx) == 0:
            return None
        dict_idx = np.asarray(dict_idx, dtype=np.int64)
        # per-TERM bucket + n_salts, computed once per batch vocab
        data, starts, lens = _string_array_parts(dictionary)
        b_term = (
            crc32_many(data, starts, lens).astype(np.int64) % term_buckets
        ).astype(np.int32)
        # local-density salt estimate (see docstring): df_est = batch df x
        # corpus/batch doc ratio.  Uses per-batch DISTINCT doc count per
        # term == bincount of the (doc, term) pairs.
        cnt = np.bincount(dict_idx, minlength=len(dictionary))
        est = cnt * (float(n_docs) / max(1, len(doc_ids)))
        ns_term = np.ones(len(dictionary), dtype=np.int64)
        hot = est > hot_df_threshold
        if hot.any():
            ns_term[hot] = np.minimum(
                max_salts,
                np.ceil(est[hot] / hot_df_threshold).astype(np.int64),
            )
        dids = doc_ids[row_idx]
        shards = (dids // shard_size).astype(np.int32)
        buckets = b_term[dict_idx]
        salts = (
            ((dids % shard_size) * ns_term[dict_idx]).astype(np.float64)
            / shard_size
        ).astype(np.int32)
        order = np.lexsort((salts, buckets, shards))
        terms = pc.take(dictionary, pa.array(dict_idx[order]))
        dids = dids[order]
        tfs = np.asarray(tfs, dtype=np.int32)[order]
        shards, buckets, salts = shards[order], buckets[order], salts[order]
        key = (
            shards.astype(np.int64) << 40
        ) | (buckets.astype(np.int64) << 20) | salts.astype(np.int64)
        change = np.flatnonzero(
            np.concatenate(([True], key[1:] != key[:-1]))
        )
        bounds = np.append(change, len(key))
        t_data, t_starts, t_lens = _string_array_parts(terms)
        rows = {
            "shard": [], "bucket": [], "salt": [], "term_lens": [],
            "term_data": [], "doc_ids": [], "tfs": [],
        }
        for gi in range(len(change)):
            s, e = int(bounds[gi]), int(bounds[gi + 1])
            rows["shard"].append(int(shards[s]))
            rows["bucket"].append(int(buckets[s]))
            rows["salt"].append(int(salts[s]))
            rows["term_lens"].append(t_lens[s:e].astype(np.int32).tobytes())
            b0 = int(t_starts[s])
            b1 = int(t_starts[e - 1] + t_lens[e - 1])
            rows["term_data"].append(t_data[b0:b1].tobytes())
            rows["doc_ids"].append(dids[s:e].tobytes())
            rows["tfs"].append(tfs[s:e].tobytes())
        return pa.RecordBatch.from_pydict(
            {
                "shard": pa.array(rows["shard"], pa.int32()),
                "bucket": pa.array(rows["bucket"], pa.int32()),
                "salt": pa.array(rows["salt"], pa.int32()),
                "term_lens": pa.array(rows["term_lens"], pa.binary()),
                "term_data": pa.array(rows["term_data"], pa.binary()),
                "doc_ids": pa.array(rows["doc_ids"], pa.binary()),
                "tfs": pa.array(rows["tfs"], pa.binary()),
            }
        )

    def kernel(batches):
        for batch in batches:
            packed = _pack(batch)
            if packed is not None:
                yield packed

    return kernel


def _make_unpack_encode_arrow(codec: str = "varint"):
    """applyInArrow kernel over (shard, bucket, salt) groups of PACKED
    rows: rebuild each row's term StringArray zero-copy from its
    (term_lens, term_data) buffers, concatenate the group's pairs, and
    encode them with :func:`_encode_term_arrays`."""
    import pyarrow as pa

    def _encode(table):
        shard = table.column("shard")[0].as_py()
        salt = table.column("salt")[0].as_py()
        t_arrays, did_parts, tf_parts = [], [], []
        tl_col = table.column("term_lens")
        td_col = table.column("term_data")
        di_col = table.column("doc_ids")
        tf_col = table.column("tfs")
        for i in range(table.num_rows):
            lens = np.frombuffer(tl_col[i].as_py(), dtype=np.int32)
            n = len(lens)
            offs = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(lens, out=offs[1:])
            t_arrays.append(
                pa.Array.from_buffers(
                    pa.utf8(), n,
                    [None, pa.py_buffer(offs.tobytes()),
                     pa.py_buffer(td_col[i].as_py())],
                )
            )
            did_parts.append(
                np.frombuffer(di_col[i].as_py(), dtype=np.int64)
            )
            tf_parts.append(np.frombuffer(tf_col[i].as_py(), dtype=np.int32))
        terms = pa.concat_arrays(t_arrays)
        doc_ids = np.concatenate(did_parts).astype(np.uint64)
        tfs = np.concatenate(tf_parts).astype(np.uint64)
        return _encode_term_arrays(shard, salt, terms, doc_ids, tfs, codec)

    return _encode


def _make_merge_runs_kernel(codec: str = "varint"):
    """mapInArrow kernel that merges salted runs INLINE in the write pass.

    Input rows (shard, term, salt, n_postings, cf_local, n_blocks, postings)
    arrive sorted by (shard, term) within the partition; adjacent rows
    sharing (shard, term) are runs of one term — explicit hot-term salt
    sub-ranges and/or map-side per-partition runs — and are merged: decode
    all, argsort the concatenated doc_ids (unique per term, so the order is
    total and deterministic), re-encode; byte-identical to an unsalted
    single encode (same property the retired pandas merge path tested,
    and independent of how the runs were produced).  Everything else — the
    overwhelming majority — passes through as ZERO-COPY Arrow table slices:
    run boundaries are found with vectorized ``pyarrow.compute`` adjacent
    equality, and only the rows of an actual multi-salt run are ever
    materialized as Python objects.  (A mapInPandas version of this kernel
    converted every binary postings blob and term string to a per-row
    Python object; measured as a 2.5x postings_write regression on 1-core
    executors.)  Output preserves the term-sorted row order the parquet
    row-group pruning relies on (a merged row is emitted at its run's
    position).  Runs never span partitions (the write exchange hashes on
    (shard, term-bucket)) but may span Arrow batches, so each batch's
    trailing (shard, term) run is carried into the next."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from clinical_trial_searchengine_spark.functions.codec import (
        decode_postings,
    )

    out_cols = [
        "shard", "term", "n_postings", "cf_local", "n_blocks", "postings",
    ]

    def _flush(tbl):
        """Yield output tables for one chunk whose runs are all whole."""
        n = len(tbl)
        shard = tbl.column("shard").to_numpy()
        term = tbl.column("term").chunk(0)
        new = np.ones(n, dtype=bool)
        if n > 1:
            same_term = pc.equal(
                term.slice(1), term.slice(0, n - 1)
            ).to_numpy(zero_copy_only=False)
            new[1:] = (shard[1:] != shard[:-1]) | ~same_term
        starts = np.flatnonzero(new)
        lens = np.diff(np.append(starts, n))
        out_tbl = tbl.select(out_cols)
        multi = lens > 1
        if not multi.any():
            yield out_tbl
            return
        npost = tbl.column("n_postings").to_numpy()
        cfloc = tbl.column("cf_local").to_numpy()
        posts = tbl.column("postings").chunk(0)
        pos = 0
        for s, ln in zip(starts[multi], lens[multi]):
            if s > pos:
                yield out_tbl.slice(pos, s - pos)
            idx = np.arange(s, s + ln)
            # k-way merge by GLOBAL doc_id order: runs may be explicit
            # salt sub-ranges (disjoint, ordered — argsort degenerates to
            # concatenation) or map-side per-partition runs (arbitrary
            # interleaved doc ranges); doc_ids are unique per term, so the
            # argsort is a deterministic total order and the merged bytes
            # are identical no matter how the runs were produced — the
            # salted == unsalted byte-identity property holds unchanged.
            ids_parts, tf_parts = [], []
            for j in idx:
                d, t = decode_postings(posts[j].as_py())
                ids_parts.append(d)
                tf_parts.append(t)
            ids_all = np.concatenate(ids_parts)
            tf_all = np.concatenate(tf_parts).astype(np.uint64)
            morder = np.argsort(ids_all)
            buf, n_blocks = encode_postings(
                ids_all[morder], tf_all[morder], codec=codec
            )
            # cast to the pass-through slices' exact schema — mapInArrow
            # requires every yielded batch to share one schema
            yield pa.table(
                {
                    "shard": pa.array([int(shard[s])], pa.int32()),
                    "term": pa.array([term[s].as_py()], pa.string()),
                    "n_postings": pa.array([int(npost[idx].sum())], pa.int64()),
                    "cf_local": pa.array([int(cfloc[idx].sum())], pa.int64()),
                    "n_blocks": pa.array([int(n_blocks)], pa.int32()),
                    "postings": pa.array([buf], pa.binary()),
                }
            ).cast(out_tbl.schema)
            pos = s + ln
        if pos < n:
            yield out_tbl.slice(pos, n - pos)

    def kernel(batches):
        carry = None
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if carry is not None and len(carry):
                tbl = pa.concat_tables([carry, tbl])
            tbl = tbl.combine_chunks()
            n = len(tbl)
            if n == 0:
                continue
            # cut off the trailing (shard, term) run — it may continue in
            # the next batch.  Sorted input => rows equal to the last
            # (shard, term) are exactly the trailing contiguous block.
            shard = tbl.column("shard").to_numpy()
            term = tbl.column("term").chunk(0)
            tail = (shard == shard[-1]) & pc.equal(
                term, term[n - 1]
            ).to_numpy(zero_copy_only=False)
            nz = np.flatnonzero(~tail)
            cut = (nz[-1] + 1) if len(nz) else 0
            carry = tbl.slice(cut)
            if cut > 0:
                for out in _flush(tbl.slice(0, cut)):
                    yield from out.to_batches()
        if carry is not None and len(carry):
            for out in _flush(carry):
                yield from out.to_batches()

    return kernel


def _pack_norms(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("doc_id")
    lens = pdf["doc_len"].to_numpy(dtype="<i4")
    return pd.DataFrame(
        {
            "shard": [int(pdf["shard"].iloc[0])],
            "chunk": [int(pdf["chunk"].iloc[0])],
            "first_doc_id": [int(pdf["doc_id"].iloc[0])],
            "n": [len(lens)],
            "doc_lens": [lens.tobytes()],
        }
    )


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def _coarse_splits(spark: SparkSession,
                   max_bytes: int = 128 << 20,
                   open_cost: int = 4 << 20):
    """Temporarily widen scan-split sizing for the post-write stats reads.

    The session's 8 MB splits are sized for the CONTENT pass (where the
    scan split count is the build's parallelism).  Split planning counts
    FULL file sizes, so those same 8 MB splits shatter the blob-heavy
    written postings into dozens of tiny column-pruned tasks per stats
    job — pure per-task scheduler/RPC overhead that grows with corpus
    size and (on 1-core executor JVMs) with executor count.  Stats reads
    prune to a few small integer columns; coarse splits give them a
    handful of real tasks instead.
    """
    keys = {
        "spark.sql.files.maxPartitionBytes": str(max_bytes),
        "spark.sql.files.openCostInBytes": str(open_cost),
    }
    old: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    mode: str = "standard",
    shard_size: int = DEFAULT_SHARD_SIZE,
    hot_df_threshold: int = 100_000,
    max_salts: int = 32,
    n_resume_groups: int = 4,
    norm_chunk: int = DEFAULT_NORM_CHUNK,
    k1: float = 1.2,
    b: float = 0.75,
    verify_sha: bool = True,
    persist_input: bool = True,
    pre_assigned: bool = False,
    postings_codec: str = "pfor",
) -> dict:
    """Build (or resume) the full index. Returns build metrics dict.

    ``postings_codec``: "pfor" (default; wire v2, NewPFD patched
    bit-packing — functions/pfor.py), "varint" (wire v1), or "adaptive"
    (per-term routing: varint below codec.ADAPTIVE_PFOR_MIN postings,
    pfor above — smallest bytes, measured ~4% under pure pfor on a
    singleton-heavy vocabulary, at ~30% slower encode; pick it for
    storage-bound deployments).  Query-side decode auto-detects the
    version per buffer, so generations built with different codecs
    coexist; the choice is recorded in meta.json and incremental appends
    inherit it.  Any other name raises ValueError before anything is read
    or written.  Measured at sf0.1/local[32]: pfor postings are 15%
    smaller and the postings_write stage 18% faster (8.1 -> 6.6 s) than
    varint, with query latency unchanged-or-better (smaller scans;
    steady-state decode is served by the contribution cache either way).

    Pass structure (minimal — each pass over the corpus is a real cost at
    10^12 docs), the same for both analyzer modes:
      1. range shuffle for doc_id assignment (+ range-sampling scan),
      2. doc_meta scan: metadata, the sha256 invariant column and doc_len
         (the JVM token-count expression of :func:`_make_doc_len_col`)
         computed in one projection — no separate verification pass, no
         Python worker,
      3. the big shuffle + write, ONE job: the pack kernel tokenizes and
         salts in-kernel (no salt-plan pre-pass, no pairs materialized)
         -> packed (shard, term_bucket, salt) encode -> hot-term merge ->
         shard layout -> parquet (dynamic-overwriting only the resume
         groups still todo; group=g/shard=k layout),
      4. EXACT global term_stats (df = Σ per-shard posting counts, cf = Σ
         per-shard tf sums) aggregated from the WRITTEN postings with
         column pruning — a terms-level read replacing v1's full
         groupBy(term) shuffle over every pair.  Postings rows carry only
         per-shard partials (format v2): query-time idf reads the term
         dictionary, the Lucene term-metadata/posting-data split,
      5. norms from the written doc_meta.
    """
    check_codec(postings_codec)
    t0 = time.time()
    stage_sec: dict[str, float] = {}

    def _tick(name: str, t_from: float) -> float:
        now = time.time()
        stage_sec[name] = round(now - t_from, 2)
        return now

    done = seg.manifest_done(spark, index_dir)
    t_cur = _tick("manifest_read", t0)
    # NOTE: the raw corpus is deliberately NOT persisted.  persist_input
    # caches the ASSIGNED join (assign_doc_ids persist_output) — the one
    # content-sized cache every downstream pass reads.  Persisting the raw
    # corpus too (pre-r4 behavior) cached the content TWICE: the keys-only
    # assign scan materialized the full-column corpus cache (event-log:
    # 14.8s taskSum for what a column-pruned parquet key read does in
    # ~2s), and the tokenize job then wrote a second content-sized cache
    # for the join output.  Unpersisted, the key scan stays column-pruned
    # and content is decoded+cached exactly once, at the join.

    has_sha = verify_sha and "content_sha256" in corpus.columns

    if pre_assigned:
        # caller already ran assign_doc_ids (e.g. multifield builds share
        # ONE range shuffle of the corpus across all field sub-indexes)
        docs = corpus
    else:
        docs = assign_doc_ids(corpus, persist_output=persist_input)
    t_cur = _tick("assign_doc_ids", t_cur)
    # tokenize runs inside the postings_write job (pack kernel), which
    # books its time; the key stays so stage_seconds keeps one key set
    t_cur = _tick("tokenize", t_cur)

    _released = []

    def _release_caches() -> None:
        """Drop the assigned-join / ranged-keys caches (idempotent) —
        called as soon as every remaining stage reads only written
        parquet.  (The raw corpus is never persisted — see the note at
        build start.)"""
        if _released:
            return
        _released.append(True)
        if hasattr(docs, "_ctse_persisted"):
            docs._ctse_persisted.unpersist()

    # -- doc_meta: metadata + sha256 invariant + doc_len in one scan ------
    meta_cols = ["doc_id", "repo", "path", "commit", "lang"] + (
        ["content_sha256"] if "content_sha256" in corpus.columns else []
    )
    dm_written_this_run = False
    if ("doc_meta", 0) not in done:
        dm_written_this_run = True
        start = time.time()
        sha_col = (
            (F.sha2(F.col("content"), 256) == F.col("content_sha256"))
            if has_sha
            else F.lit(True)
        ).alias("sha_ok")
        doc_len = F.coalesce(_make_doc_len_col(mode), F.lit(0))
        dm = docs.select(*meta_cols, sha_col, doc_len.alias("doc_len"))
        dm.write.mode("overwrite").parquet(seg.path_of(index_dir, seg.DOC_META))
        # sha_ok flag on THIS row records whether the persisted sha_ok column
        # was actually computed (vs the verify_sha=False lit(True)
        # placeholder) — verify_sha on a resumed run checks it before
        # trusting the column.
        seg.manifest_append(
            spark, index_dir, "doc_meta", 0, "done",
            sha_ok=has_sha, started_at=start,
        )
    t_cur = _tick("doc_meta", t_cur)

    # -- stats + sha verification in ONE tiny agg over doc_meta --
    dm_read = spark.read.parquet(seg.path_of(index_dir, seg.DOC_META))
    # indexes written before the fused-sha format lack sha_ok: treat as ok
    sha_ok_col = (
        F.col("sha_ok") if "sha_ok" in dm_read.columns else F.lit(True)
    )
    stats_row = dm_read.agg(
        F.count("*").alias("num_docs"),
        F.avg("doc_len").alias("avg_doc_len"),
        F.sum("doc_len").alias("total_terms"),
        F.sum(F.when(sha_ok_col, 0).otherwise(1)).alias("mismatches"),
    ).collect()[0]
    num_docs = stats_row["num_docs"]
    if has_sha and ("verify_sha", 0) not in done:
        start = time.time()
        if dm_written_this_run:
            # doc_meta was just written with a computed sha_ok column —
            # no manifest probe needed (saves a job on the common path)
            sha_was_computed = True
        else:
            dm_flags = seg.manifest_latest(spark, index_dir).get(
                ("doc_meta", 0)
            )
            sha_was_computed = (
                "sha_ok" in dm_read.columns
                and dm_flags is not None
                and bool(dm_flags["sha_ok"])
            )
        if sha_was_computed:
            mismatches = int(stats_row["mismatches"] or 0)
        else:
            # doc_meta was persisted by a verify_sha=False (or pre-sha-format)
            # run: its sha_ok column is a lit(True) placeholder and trusting
            # it would mark the invariant verified without any hash ever
            # being computed.  Recompute sha2(content) from the live corpus.
            mismatches = docs.where(
                F.sha2(F.col("content"), 256) != F.col("content_sha256")
            ).count()
        seg.manifest_append(
            spark, index_dir, "verify_sha", 0,
            "done" if mismatches == 0 else "failed",
            rows_in=mismatches, sha_ok=mismatches == 0, started_at=start,
        )
        if mismatches:
            # un-mark the stages derived from the corrupt corpus so a rerun
            # (after the input is fixed) recomputes them from live data
            # instead of reading the stale persisted sha_ok rows forever
            for stage in ("doc_meta", "term_stats", "stats"):
                seg.manifest_append(
                    spark, index_dir, stage, 0, "failed",
                    sha_ok=False, started_at=start,
                )
            raise ValueError(
                f"content_sha256 invariant violated for {mismatches} rows"
            )
    if ("stats", 0) not in done:
        start = time.time()
        # pyarrow source, NOT a python-list row: writing a pickled-RDD-
        # backed DataFrame runs a plain python worker whose per-task
        # setup cost dominates (measured 4+ s for this one row pre-
        # fastdaemon; the Arrow path plans as a local table, ~0.1 s).
        # pa.array keeps None as a true NULL (a pandas NaN would not).
        import pyarrow as pa

        spark.createDataFrame(
            pa.table(
                {
                    "num_docs": pa.array([int(num_docs)], pa.int64()),
                    "avg_doc_len": pa.array(
                        [stats_row["avg_doc_len"]], pa.float64()
                    ),
                    "total_terms": pa.array(
                        [stats_row["total_terms"]], pa.int64()
                    ),
                }
            ),
            "num_docs long, avg_doc_len double, total_terms long",
        ).coalesce(1).write.mode("overwrite").parquet(
            seg.path_of(index_dir, seg.STATS)
        )
        seg.manifest_append(
            spark, index_dir, "stats", 0, "done",
            rows_in=num_docs, started_at=start,
        )
    t_cur = _tick("stats_verify", t_cur)

    n_shards = max(1, math.ceil(num_docs / shard_size))
    n_groups = max(1, min(n_resume_groups, n_shards))
    todo = [g for g in range(n_groups) if ("postings", g) not in done]
    need_term_stats = ("term_stats", 0) not in done
    term_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    if todo or need_term_stats:
        stats_src: DataFrame | None = None  # shared written-postings scan
        # -- hot-term salt plan (logged, SURVEY.md §4.2): decided inside
        # the pack kernel from per-batch local density (see
        # make_tokenize_pack_kernel_arrow) — no driver pre-pass, no sample
        # job.  Salting is performance-only (salted == unsalted byte-
        # identically, property-tested); exact df/cf fall out of the
        # encode output below (B5).
        seg.metrics_append(
            spark, index_dir, [("salt_plan", 0, "in_kernel", 1.0)]
        )
        t_cur = _tick("salt_plan", t_cur)

        # -- THE shuffle: packed pairs -> salted (shard, term_bucket, salt)
        # encode --
        # (A map-side SPIMI-style combiner — encode per-partition runs
        # BEFORE the exchange, shuffle compact runs instead of raw pairs —
        # was A/B-measured here and REJECTED: it cuts shuffle bytes ~5x,
        # but it turns every term into a multi-run merge at the write
        # pass, so the merge kernel's per-run Python path runs for ~150k
        # terms x ~25 runs instead of only rare salted hot terms;
        # postings_write went 56s -> 105s at 1 executor.  Shuffling raw
        # pairs keeps the merge's zero-copy single-run fast path for
        # 99.9% of terms.)
        enc_schema = (
            "shard int, term string, salt int, n_postings long, "
            "cf_local long, n_blocks int, postings binary"
        )
        # No persist: the encode output streams straight into the shard
        # shuffle below — its ONLY consumer — so the old DISK_ONLY persist
        # (which existed because the hot/cold branch split read it twice)
        # would now be a pure extra disk round-trip of the whole postings
        # relation.
        # EXPLICIT fine-grained partitioning for the encode shuffle: a bare
        # groupBy leaves the partition count to AQE, whose parallelism-first
        # coalescing targets ~total-core-count tasks (measured: 5 tasks of
        # ~60MB at 4 executors, one 49s straggler dominating the stage, with
        # the pre-applyInArrow sort spilling per fat task).  Repartitioning
        # on the grouping keys with an explicit count gives Catalyst a
        # HashPartitioning that already satisfies the groupBy's required
        # distribution — no second exchange — and many small sorts + encode
        # kernels that pack tightly onto however many cores exist.
        n_encode_parts = max(
            32, 4 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        )
        # PACKED encode shuffle: the pack kernel assigns (shard, bucket,
        # salt) itself and emits ONE row per group per input batch (flat
        # term/doc/tf buffers) instead of one row per pair.  Same shuffled
        # bytes, ~500x fewer rows: the per-row UnsafeRow serialize/
        # deserialize, the reduce-side sort of every pair, and the per-pair
        # Arrow conversion — measured as ~5/6 of the two shuffle stages'
        # 900 task-seconds, vs ~145 task-seconds of actual tokenize+encode
        # python — collapse to per-group costs.
        packed = docs.select("doc_id", "content").mapInArrow(
            make_tokenize_pack_kernel_arrow(
                mode, shard_size, term_buckets,
                int(num_docs), hot_df_threshold, max_salts,
            ),
            _PACK_SCHEMA,
        )
        encoded = (
            packed.repartition(
                n_encode_parts, "shard", "bucket", "salt"
            )
            .groupBy("shard", "bucket", "salt")
            .applyInArrow(
                _make_unpack_encode_arrow(postings_codec), enc_schema
            )
        )

        merge_schema = (
            "shard int, term string, n_postings long, cf_local long, "
            "n_blocks int, postings binary"
        )
        if todo:
            # -- postings: ONE job end-to-end (pairs -> salted encode ->
            # shard shuffle -> sorted inline salted-run merge -> parquet),
            # dynamic-overwriting only todo groups (resume granularity:
            # group=g/shard=k).  The (shard, term, salt) sort makes salted
            # runs adjacent, so merging is a streaming pass in the SAME
            # task that writes the shard — no second read of the encode
            # output, no separate hot-term shuffle.  Every downstream
            # statistic is derived from the WRITTEN files below with
            # column pruning (the postings blobs are never re-read).
            start = time.time()
            (
                encoded.where((F.col("shard") % n_groups).isin(todo))
                # (shard, bucket) — NOT bare shard: all salts of a term
                # share (shard, bucket), so salted runs stay whole, but
                # write parallelism is n_shards * term_buckets tasks
                # instead of n_shards.  With shard-only partitioning a
                # small-shard-count build (e.g. 4 shards on 4 executors)
                # serialized the entire sort+merge+parquet pass into 4
                # tasks and capped marginal scaling at ~1.4x.  partitionBy
                # below splits by column value regardless of task layout,
                # so each task just writes one term-sorted file per shard
                # dir it holds; query-side row-group pruning is per-file
                # min/max and is indifferent to the file count.
                # EXPLICIT partition count: repartition(cols) with no count
                # is advisory under AQE, and coalescePartitions folds this
                # exchange to ~64MB-sized tasks — measured serializing the
                # whole sort+merge+write onto 2-3 cores at 200k docs.
                .repartition(
                    int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
                    F.col("shard"),
                    F.pmod(F.xxhash64("term"), F.lit(term_buckets)),
                )
                .sortWithinPartitions("shard", "term", "salt")
                .mapInArrow(
                    _make_merge_runs_kernel(postings_codec), merge_schema
                )
                .withColumn("group", F.col("shard") % n_groups)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("group", "shard")
                .parquet(seg.path_of(index_dir, seg.POSTINGS))
            )
            # caches are dead the moment the postings land; release before
            # the group-counts job below or it runs on a full old-gen
            # (measured 13.1s GC on a 14.4s 4-task count job)
            _release_caches()
            # ONE column-pruned, coarse-split scan of the written postings
            # serves BOTH the per-group manifest counts here and the global
            # term_stats agg below (it was two full re-plans before; the
            # 8 MB content-pass splits made each one dozens of tiny tasks —
            # measured as term_stats marginal-gap anti-scaling, 0.46 s ->
            # 1.12 s going 1 -> 4 one-core executors at 150k marginal docs).
            with _coarse_splits(spark):
                stats_src = (
                    spark.read.parquet(seg.path_of(index_dir, seg.POSTINGS))
                    .select("group", "term", "n_postings", "cf_local")
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                group_counts = {
                    r["group"]: r["n"]
                    for r in stats_src.where(F.col("group").isin(todo))
                    .groupBy("group").agg(F.count("*").alias("n")).collect()
                }
            for g in todo:
                n_terms = int(group_counts.get(g, 0))
                seg.manifest_append(
                    spark, index_dir, "postings", g, "done",
                    terms_out=n_terms, started_at=start,
                )
                seg.metrics_append(
                    spark, index_dir, [("postings", g, "rows", float(n_terms))]
                )
        t_cur = _tick("postings_write", t_cur)

        # -- release the build caches NOW: everything below reads only the
        # WRITTEN parquet (postings, doc_meta), and the assigned-join +
        # ranged-keys caches otherwise sit on the executor heaps through
        # the tail stages — measured as GC-dominated (12.8s GC on a 16.4s
        # stage) on 14g executors at 200k docs.
        _release_caches()

        # -- EXACT global term stats (df = Σ per-shard posting counts, cf =
        # Σ per-shard tf sums) aggregated from the WRITTEN postings with
        # column pruning — a terms-level read (reusing the shared
        # stats_src scan when this build just wrote postings), no
        # pair-level shuffle.  Covers ALL groups on disk, so a resumed
        # build that crashed between postings and term_stats recovers here.
        # Format v2: postings carry only per-shard partials; query-time idf
        # reads this term dictionary (Lucene's term-metadata/posting split).
        if need_term_stats:
            start = time.time()
            with _coarse_splits(spark):
                src = stats_src if stats_src is not None else (
                    spark.read.parquet(seg.path_of(index_dir, seg.POSTINGS))
                    .select("term", "n_postings", "cf_local")
                )
                (
                    src.groupBy("term")
                    .agg(
                        F.sum("n_postings").alias("df"),
                        F.sum("cf_local").alias("cf"),
                    )
                    .write.mode("overwrite")
                    .parquet(seg.path_of(index_dir, seg.TERM_STATS))
                )
            seg.manifest_append(
                spark, index_dir, "term_stats", 0, "done", started_at=start
            )
        if stats_src is not None:
            stats_src.unpersist()
    t_cur = _tick("term_stats", t_cur)

    # -- norms (doc_len arrays per shard chunk) --
    if ("norms", 0) not in done:
        start = time.time()
        norms_schema = (
            "shard int, chunk int, first_doc_id long, n int, doc_lens binary"
        )
        (
            spark.read.parquet(seg.path_of(index_dir, seg.DOC_META))
            .select("doc_id", "doc_len")
            .withColumn("shard", (F.col("doc_id") / shard_size).cast("int"))
            .withColumn(
                "chunk", ((F.col("doc_id") % shard_size) / norm_chunk).cast("int")
            )
            .groupBy("shard", "chunk")
            .applyInPandas(_pack_norms, norms_schema)
            .write.mode("overwrite")
            .parquet(seg.path_of(index_dir, seg.NORMS))
        )
        seg.manifest_append(spark, index_dir, "norms", 0, "done", started_at=start)

    t_cur = _tick("norms", t_cur)
    _release_caches()  # no-op unless the postings block was skipped (resume)

    meta = {
        "format_version": 2,  # v2: postings carry no df/cf; idf reads term_stats
        "mode": mode,
        "shard_size": shard_size,
        "n_shards": n_shards,
        "num_docs": int(num_docs),
        "avg_doc_len": float(stats_row["avg_doc_len"] or 0.0),
        "total_terms": int(stats_row["total_terms"] or 0),
        "k1": k1,
        "b": b,
        "norm_chunk": norm_chunk,
        "hot_df_threshold": hot_df_threshold,
        "max_salts": max_salts,
        "n_resume_groups": n_groups,
        "term_buckets": term_buckets,
        "postings_codec": postings_codec,
    }
    seg.write_meta(index_dir, meta)
    meta["build_seconds"] = time.time() - t0
    meta["stage_seconds"] = stage_sec
    return meta

"""Deduplication operators for training-data pipelines at 100 TB scale:

* exact (content-hash groupBy)            — one shuffle, no UDF
* n-gram Jaccard (exact, prefix-filtered) — built-ins only; AllPairs prefix
                                            join, no hot-shingle quadratic
* MinHash + LSH banding                   — the scale path for near-dup
* SimHash + pigeonhole banding            — hamming-distance near-dup

All signatures are deterministic (crc32/md5-derived, never Python hash()).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by sha256(text).

    Returns (text_sha256, n_dups, keep_id): one row per duplicated content
    (n_dups >= 2); keep_id = min id is the canonical survivor.  Single
    hash-agg shuffle with map-side combine — the pattern holds at any scale.
    """
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("text_sha256"), F.col(id_col))
        .groupBy("text_sha256")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("n_dups") >= 2)
    )


# ---------------------------------------------------------------------------
# Shingles (shared)
# ---------------------------------------------------------------------------


def shingle_expr(text_col: str, n: int = 3) -> str:
    """SQL expression: distinct word n-gram shingles of lower(text).
    Identical semantics in Spark SQL and DuckDB (oracle-able)."""
    toks = f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
    # guard: Spark sequence(1, 0) DESCENDS instead of being empty
    return (
        f"case when size({toks}) < {n} then array() else "
        f"array_distinct(transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {n})))) end"
    )


def _shingle_set(text: str, n: int = 3) -> set[str]:
    toks = __import__(
        "clinical_trial_searchengine_spark.functions.analysis",
        fromlist=["tokenize_text"],
    ).tokenize_text(text, "standard")
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))}


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (small/medium scale or post-LSH verify)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_filter: bool = True,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-Jaccard >= threshold — exact,
    built-ins only (no UDF).

    Default path is the AllPairs/PPJoin PREFIX FILTER (Bayardo et al.,
    WWW'07): order each doc's shingles rarest-first by global document
    frequency and join only on each doc's first ``|d| - ceil(t*|d|) + 1``
    shingles.  Exactness: Jaccard >= t implies overlap >= ceil(t*|d|) for
    BOTH docs of a pair, and two sets whose overlap is >= o must share an
    element within their first ``|d| - o + 1`` elements under any common
    total order — so every qualifying pair survives as a candidate, and
    candidates are then verified with the exact ``array_intersect`` count.
    This removes the hot-shingle quadratic of the naive self-join: a
    shingle shared by M docs appears in a prefix only for docs where it is
    among the rarest, so the join no longer materializes M^2 rows per hot
    shingle.  ``prefix_filter=False`` keeps the naive one-shuffle shape
    (cheaper on small candidate sets, e.g. post-LSH verify).
    """
    from clinical_trial_searchengine_spark.partitioning import (
        spread_for_compute,
    )

    # shingling is regex-heavy; spread single-row-group scans (guide §2.5)
    df = spread_for_compute(df)
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(shingle_expr(text_col, n))).alias("shingle"),
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_shingles"))

    if prefix_filter:
        from pyspark.sql import Window

        freq = sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
        w = Window.partitionBy("id").orderBy("sdf", "shingle")
        pref = (
            sh.join(freq, "shingle")
            .withColumn("pos", F.row_number().over(w))
            .join(sizes, "id")
            # Conservative bound: double rounding can push t*n just above
            # the exact integer (0.8*5 -> 4.0000000000000002), making ceil
            # over-tight and dropping a pair at Jaccard == t.  Subtracting
            # an epsilon before ceil only ever ADDS candidates; exactness
            # is restored by the array_intersect verify below.
            .where(
                F.col("pos")
                <= F.col("n_shingles")
                - F.ceil(
                    F.lit(threshold) * F.col("n_shingles") - F.lit(1e-9)
                )
                + 1
            )
            .select("id", "shingle", "n_shingles")
        )
        cand = (
            pref.alias("a")
            .join(pref.alias("b"), "shingle")
            .where(
                (F.col("a.id") < F.col("b.id"))
                # length filter: t * max(|a|,|b|) <= min(|a|,|b|); epsilon-
                # slackened for the same float double-rounding reason
                & (
                    F.lit(threshold)
                    * F.greatest("a.n_shingles", "b.n_shingles")
                    - F.lit(1e-9)
                    <= F.least("a.n_shingles", "b.n_shingles")
                )
            )
            .select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
            )
            .distinct()
        )
        arrs = df.select(
            F.col(id_col).alias("id"),
            F.expr(shingle_expr(text_col, n)).alias("arr"),
        )
        return (
            cand.join(
                arrs.select(F.col("id").alias("id_a"),
                            F.col("arr").alias("arr_a")), "id_a")
            .join(
                arrs.select(F.col("id").alias("id_b"),
                            F.col("arr").alias("arr_b")), "id_b")
            .withColumn(
                "n_inter",
                F.size(F.array_intersect("arr_a", "arr_b")),
            )
            .withColumn(
                "jaccard",
                F.round(
                    F.col("n_inter")
                    / (
                        F.size("arr_a") + F.size("arr_b")
                        - F.col("n_inter")
                    ),
                    6,
                ),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("n_shingles", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("n_shingles", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = np.uint64((1 << 61) - 1)


def _perm_params(num_hashes: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_hashes, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, num_hashes, dtype=np.uint64)
    return a, b


def _minhash_signature_ref(
    t: str | None, a: np.ndarray, b: np.ndarray, n: int
) -> list[int]:
    """Per-doc reference MinHash (the pre-round-5 loop): kept as the
    row-wise fallback for non-ASCII rows and as the oracle the vectorized
    kernel is asserted bit-identical against."""
    sh = _shingle_set(t or "", n)
    if not sh:
        return [0] * len(a)
    hs = np.array([zlib.crc32(s.encode()) for s in sh], dtype=np.uint64)
    m = (a[:, None] * hs[None, :] + b[:, None]) % _MERSENNE
    return m.min(axis=1).astype(np.int64).tolist()


def minhash_signature_udf(num_hashes: int = 128, n: int = 3, seed: int = 42):
    """text -> array<long> MinHash signature.

    ASCII rows (the hot path — source-code corpora) run through the
    fully-vectorized Arrow-buffer kernel
    (:func:`..functions.vechash.minhash_signatures_ascii`): shingles are
    contiguous slices of a rebuilt space-joined token stream, crc32 runs
    in numpy lockstep, and the (a*h+b) mod M mins stream through blocked
    in-place uint64 passes — no per-row Python (round-4 verdict: the
    per-doc loop here was the last hot-path Python at 100 TB scale).
    Non-ASCII rows fall back row-wise to the bit-identical reference
    loop."""
    a, b = _perm_params(num_hashes, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        from clinical_trial_searchengine_spark.functions.vechash import (
            apply_ascii_vectorized,
            minhash_signatures_ascii,
        )

        return pd.Series(
            apply_ascii_vectorized(
                texts,
                lambda arr: minhash_signatures_ascii(arr, a, b, n),
                lambda t: _minhash_signature_ref(t, a, b, n),
            )
        )

    return _sig


def minhash_lsh_duplicates(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + LSH banding.

    shingle -> minhash -> band -> bucket-join (the classic pipeline): docs
    sharing any band bucket become candidates; candidates are verified with
    exact shingle Jaccard when ``verify=True``.  Returns
    (id_a, id_b [, jaccard]).
    """
    from pyspark import StorageLevel

    from clinical_trial_searchengine_spark.partitioning import (
        spread_for_compute,
    )

    assert num_hashes % bands == 0
    r = num_hashes // bands
    # the signature kernel is the operator's single heaviest stage; a
    # single-row-group input would run it on one core (guide §2.5) —
    # spread is a no-op when the scan already has enough splits
    df = spread_for_compute(df)
    sig = df.select(
        F.col(id_col).alias("id"),
        minhash_signature_udf(num_hashes, n)(F.col(text_col)).alias("sig"),
    )
    banded = sig.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b as band, xxhash64(concat_ws(',', slice(sig, b*{r}+1, {r}))) as bucket))"
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band"), F.col("bb.bucket"))
    # both sides of the bucket self-join are this same relation; without a
    # persist the signature UDF subtree evaluates once PER SIDE (exchange
    # reuse is not guaranteed across the join inputs) — measured 2x the
    # operator's dominant stage.  The banded relation is tiny next to the
    # texts (id + 2 ints, bands rows/doc); ContextCleaner unpersists it
    # when the result goes unreachable.
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand
    # cand feeds the verify twice (doc semi-join + intersection join);
    # without persist Spark would re-run the signature UDF + banding
    # self-join per reference (measured 2x the operator).  The candidate
    # set is LSH-bounded (pairs sharing a band bucket), and Spark's
    # ContextCleaner unpersists it once the returned DataFrame is
    # unreachable.
    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    # Exact-Jaccard verify with BUILT-INS only (JVM-side): the old path
    # shipped both full texts to a pandas UDF and re-shingled each side
    # per candidate PAIR in a Python loop — at 100 TB the within-bucket
    # verify is the LSH pipeline's second hot path.  Here each doc is
    # shingled ONCE (shingle_expr — the same SQL shingles the sibling
    # ngram_jaccard_pairs and the shared DuckDB oracle use), candidates
    # join their shingle sets on equality for the intersection count, and
    # |union| falls out of the per-doc sizes.  F.round matches the
    # oracle's rounding (the UDF's Python banker's round was the odd one
    # out at exact half-ulp boundaries).
    # only docs that appear in a candidate pair are shingled: candidates
    # are a vanishing fraction of the corpus at scale (that selectivity
    # is the entire point of LSH banding), so the semi-join keeps the
    # explode |cand-docs| * shingles, not |corpus| * shingles
    need = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = (
        df.select(F.col(id_col).alias("id"), F.col(text_col))
        .join(need, "id", "left_semi")
        .select(
            "id", F.explode(F.expr(shingle_expr(text_col, n))).alias("sh")
        )
    )
    # sh feeds three consumers (sizes + both sides of the intersection
    # join): unpersisted, the candidate-doc shingle explode re-runs per
    # reference.  Bounded like cand (LSH-selected docs only).
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (
        cand
        .join(sh.select(F.col("id").alias("id_a"), "sh"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    # candidates sharing NO shingle have jaccard 0 and can never clear a
    # positive threshold, so the output builds on `inter` directly (a
    # third cand reference would be another subtree execution)
    return (
        inter
        .join(
            sizes.select(F.col("id").alias("id_a"),
                         F.col("n_sh").alias("size_a")), "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"),
                         F.col("n_sh").alias("size_b")), "id_b",
        )
        .withColumn(
            "_u",
            F.col("size_a") + F.col("size_b") - F.col("n_inter"),
        )
        .withColumn(
            "jaccard",
            F.when(
                F.col("_u") > 0,
                F.round(F.col("n_inter") / F.col("_u"), 6),
            ).otherwise(0.0),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_ref(t: str | None) -> int:
    """Per-doc reference SimHash: non-ASCII fallback + kernel oracle."""
    import hashlib
    from collections import Counter

    toks = (t or "").lower().split()
    if not toks:
        return 0
    votes = np.zeros(64, dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for w, tf in Counter(toks).items():
        h = np.uint64(int.from_bytes(
            hashlib.md5(w.encode()).digest()[:8], "little"
        ))
        bits = (h >> shifts) & np.uint64(1)
        votes += tf * (2 * bits.astype(np.int64) - 1)
    h64 = np.uint64(0)
    for i in range(64):
        if votes[i] > 0:
            h64 |= np.uint64(1) << np.uint64(i)
    return int(h64.astype(np.int64))


def simhash_udf(seed: int = 42):
    """text -> 64-bit SimHash (as signed long): tf-weighted bit votes over
    md5-derived token hashes.

    ASCII rows run through the vectorized kernel
    (:func:`..functions.vechash.simhash_ascii`): whitespace split +
    dictionary-encode as Arrow-buffer passes, md5 once per VOCABULARY
    entry (cached across batches), bit votes as blocked reduceat sums —
    per-occurrence Python is gone.  Non-ASCII rows fall back row-wise to
    the bit-identical reference loop."""
    cache: dict = {}  # vocab md5s; lives across batches per python worker

    @F.pandas_udf(LongType())
    def _sim(texts: pd.Series) -> pd.Series:
        from clinical_trial_searchengine_spark.functions.vechash import (
            apply_ascii_vectorized,
            simhash_ascii,
        )

        return pd.Series(
            apply_ascii_vectorized(
                texts,
                lambda arr: simhash_ascii(arr, cache),
                _simhash_ref,
            ),
            dtype="int64",
        )

    return _sim


def simhash_duplicates(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    Pigeonhole banding: split 64 bits into (max_hamming+1) bands; any pair
    within distance shares >= 1 exact band -> equi-join per band, then exact
    hamming via bit_count(xor) filter. No quadratic blowup.
    """
    from clinical_trial_searchengine_spark.partitioning import (
        spread_for_compute,
    )

    n_bands = max_hamming + 1
    width = 64 // n_bands
    # single-row-group inputs would run the signature kernel on one core
    df = spread_for_compute(df)
    sh = df.select(
        F.col(id_col).alias("id"), simhash_udf()(F.col(text_col)).alias("sim")
    )
    banded = sh.select(
        "id", "sim",
        F.explode(
            F.expr(
                # logical shift (sim is signed int64), then mask band bits
                f"transform(sequence(0, {n_bands - 1}), "
                f"b -> struct(b as band, shiftrightunsigned(sim, b*{width}) & {(1 << width) - 1} as bits))"
            )
        ).alias("bb"),
    ).select("id", "sim", F.col("bb.band"), F.col("bb.bits"))
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bits"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(
                F.col("x.sim").bitwiseXOR(F.col("y.sim"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicates
# ---------------------------------------------------------------------------


def embedding_cosine_duplicates(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    block_rows: int = 200_000,
    n_blocks: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine(vec_a, vec_b) >= threshold —
    exact, fully distributed: NO driver-side materialization of the table.

    Block-pair plan: rows hash into B = ceil(n / block_rows) blocks; every
    unordered block pair (i <= j) is one ``applyInPandas`` task computing a
    single cross-block numpy matmul.  Each row is shuffled to the B pairs
    containing its block, so shuffle volume is B x data — the inherent cost
    of EXACT all-pairs at scale (B stays small because block_rows is sized
    to executor memory: two 200k x 768-dim float64 blocks = ~2.4 GiB/task).
    For near-dup mining where approximate candidates are fine, prefilter
    with MinHash/LSH or :func:`...similarity.hyperplane_bucket_udf` and run
    this operator per bucket instead.
    """
    if n_blocks is None:
        n_rows = emb.select(id_col).count()
        n_blocks = max(1, -(-n_rows // block_rows))
    B = int(n_blocks)

    def kernel(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        empty = pd.DataFrame(
            {"id_a": [], "id_b": [], "cosine": []}
        ).astype({"id_a": "int64", "id_b": "int64", "cosine": "float64"})
        if pdf.empty:
            return empty
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        M = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)
        if bi == bj:
            S = M @ M.T
            ai, bj_ = np.nonzero(S >= threshold)
            keep = ids[ai] < ids[bj_]
            ia, ib, s = ids[ai][keep], ids[bj_][keep], S[ai, bj_][keep]
        else:
            left = pdf["_b"].to_numpy() == bi
            A, Bm = M[left], M[~left]
            ida, idb = ids[left], ids[~left]
            if not len(A) or not len(Bm):
                return empty
            S = A @ Bm.T
            ai, bj_ = np.nonzero(S >= threshold)
            x, y, s = ida[ai], idb[bj_], S[ai, bj_]
            ia, ib = np.minimum(x, y), np.maximum(x, y)
        return pd.DataFrame(
            {"id_a": ia, "id_b": ib, "cosine": np.round(s, round_to)}
        )

    base = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("_b"),
    )
    # replicate each row to every block pair containing its block:
    # (min(b,o), max(b,o)) over o in [0, B) — exactly once per pair
    tagged = (
        base.withColumn("_o", F.explode(F.expr(f"sequence(0, {B - 1})")))
        .withColumn("_pi", F.least("_b", "_o"))
        .withColumn("_pj", F.greatest("_b", "_o"))
        .drop("_o")
    )
    return tagged.groupBy("_pi", "_pj").applyInPandas(
        kernel, "id_a long, id_b long, cosine double"
    )

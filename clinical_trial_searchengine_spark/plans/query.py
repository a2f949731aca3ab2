"""Query-time BM25 top-k over the doc-sharded segment layout.

Lifecycle (SURVEY.md §3.1 steps 4-9, Spark-first).  Every entry point —
:func:`search`, :func:`search_all`, :func:`search_many`,
:func:`search_many_rows` — scores through ONE function, :func:`_candidates`,
over a query SET ({query_id: qtf}; a single query is a set of one):

  analyze query text with the SAME kernel as indexing (driver-side, tiny)
  -> exact global stats: N and avgdl from meta, per-term df from the term
     dictionary (:meth:`IndexHandle.global_dfs`)
  -> filter/boost tables collected once into kernel-pushable arrays
     (:func:`_prepare_pushdowns`); oversized or join-defined tables take
     the exact score-everything + join fallback
  -> scoring in one of two shapes:
     * decoded (JVM): a handle warmed under its postings cap, with no
       explicit ``kernel``, scores in plain plan nodes over the decoded
       (term, doc_id, norm) relation :meth:`IndexHandle.warm` cached
       (:func:`_score_decoded`): term filter -> broadcast join with the
       set's (query_id, term, pos, w) table -> groupBy(query_id, doc_id)
       with no exchange -> term-ordered float64 sum.  No Python stage.
     * cogroup (:func:`_apply_kernel`): a per-(gen, shard) Python kernel
       over the term-pruned parquet postings scan (predicate pushdown on
       term-sorted files) cogrouped with the norms of the shards it hits
       — for explicit kernels, :func:`profile_query`, cold handles and
       handles past the cap.
     Kernel choice (:func:`_choose_kernel`): the exhaustive set kernel for
     every set, or — for a set of one query without boost — vectorized
     block-max 'pruned' once the candidate pool dwarfs k (the
     doc-at-a-time Python WAND 'wand_ref' is a test-only oracle; all
     rank-identical)
  -> (query_id, doc_id, score) candidate rows: every match on the decoded
     shape, a per-shard bounded top-k per query on the cogroup shape
  -> front-end merge: ``orderBy(score desc, doc_id asc).limit(k)``
     (Catalyst TakeOrderedAndProject) for :func:`search`, one per-query
     Window rank for :func:`search_many` and :func:`search_many_rows`.

Score reproducibility: per-doc contributions are accumulated in term-sorted
order in float64, matching tests/oracle.py bit-for-bit (SURVEY.md §7(a)) on
every shape.
Tie-break is explicit: (score desc, doc_id asc) — T6, required because
Lucene breaks ties by internal doc order.

BM25 formula (reference defaults — no similarity override in
reference: backend/search/mapping.json):
    idf  = ln(1 + (N - df + 0.5)/(df + 0.5))
    s    = qtf * idf * tf / (tf + k1*(1 - b + b*dl/avgdl))
"""

from __future__ import annotations

import hashlib
import heapq
import math
import threading
from collections import Counter, OrderedDict
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_trial_searchengine_spark.functions.analysis import tokenize_text
from clinical_trial_searchengine_spark.functions.codec import (
    decode_blocks,
    decode_directory,
    decode_postings,
    decode_postings_group,
)
from clinical_trial_searchengine_spark.plans import segments as seg

_RESULT_SCHEMA = "doc_id long, score double"
# what every scoring kernel emits and _candidates returns
_CANDIDATE_SCHEMA = "query_id string, doc_id long, score double"
# the decoded postings relation warm() caches (_make_decode_kernel)
_DECODED_SCHEMA = "term string, doc_id long, norm double"


def _idf(N: int, df: int) -> float:
    return math.log(1.0 + (N - df + 0.5) / (df + 0.5))


def _norms_dl(norms_pdf: pd.DataFrame) -> np.ndarray:
    norms_pdf = norms_pdf.sort_values("chunk")
    return np.concatenate(
        [np.frombuffer(b, dtype="<i4") for b in norms_pdf["doc_lens"]]
    ).astype(np.float64)


def _topk_from_scores(acc, base, k):
    nz = np.flatnonzero(acc)
    scores = acc[nz]
    if nz.size > k:
        sel = np.argpartition(-scores, k - 1)[:k]
        # re-sort the k selected by (score desc, doc_id asc)
        order = np.lexsort((nz[sel], -scores[sel]))
        sel = sel[order]
    else:
        sel = np.lexsort((nz, -scores))
    return pd.DataFrame(
        {"doc_id": (base + nz[sel]).astype("int64"), "score": scores[sel]}
    )


def _empty_result() -> pd.DataFrame:
    return pd.DataFrame({"query_id": [], "doc_id": [], "score": []}).astype(
        {"query_id": "str", "doc_id": "int64", "score": "float64"}
    )


def _tagged(top: pd.DataFrame, qid: str) -> pd.DataFrame:
    """Per-shard top-k of one query as kernel output rows."""
    if top.empty:
        return _empty_result()
    top.insert(0, "query_id", qid)
    return top


# one row per (gen, shard, term) the pruned kernel touched — the evidence
# trail for "did block skipping fire" (profile_query below)
_PROFILE_SCHEMA = (
    "gen int, shard int, term string, weight double, df long, "
    "n_blocks long, blocks_decoded long, decode_mode string, "
    "alive_docs long, theta double"
)
_PROFILE_COLS = [c.split()[0] for c in _PROFILE_SCHEMA.split(", ")]


def _profile_pdf(stats: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(stats, columns=_PROFILE_COLS).astype(
        {"gen": "int32", "shard": "int32", "weight": "float64",
         "df": "int64", "n_blocks": "int64", "blocks_decoded": "int64",
         "alive_docs": "int64", "theta": "float64"}
    )


def _empty_profile() -> pd.DataFrame:
    return _profile_pdf([])


def _tomb_local(tombs: np.ndarray, gbase: int, nd: int) -> np.ndarray:
    """Shard-local offsets of tombstoned GLOBAL doc_ids (``tombs`` sorted).

    Tombstones mask superseded/deleted docs out of results between
    compactions (Lucene deleted-docs semantics — see streaming/incremental
    .upsert_index); global stats intentionally keep counting them until the
    next compaction."""
    lo = int(np.searchsorted(tombs, gbase))
    hi = int(np.searchsorted(tombs, gbase + nd))
    return (tombs[lo:hi] - gbase).astype(np.int64)


def _dead_mask(tombs: np.ndarray, allow, gbase: int, nd: int):
    """Bool mask of a shard's docs that must not be returned: tombstoned,
    or outside the pushed filter allow-mask (B4 — the tombstone mechanism
    inverted).  None when nothing is masked."""
    dead = None
    if allow is not None:
        dead = np.ones(nd, dtype=bool)
        dead[_tomb_local(allow, gbase, nd)] = False
    if tombs.size:
        if dead is None:
            dead = np.zeros(nd, dtype=bool)
        dead[_tomb_local(tombs, gbase, nd)] = True
    return dead


# ---------------------------------------------------------------------------
# Cross-query contribution cache (per Python-worker process).
#
# A query service hits the same hot terms over and over; decoding a hot
# posting list (df ~ num_docs) plus recomputing its length normalization is
# the dominant per-query kernel cost at corpus scale — and it is IDENTICAL
# across queries: (doc offsets, tf/(tf+K_d)) depend only on the posting
# bytes, the shard's doc lengths, and (avgdl, k1, b).  The per-query parts
# (qtf, idf) are scalar multipliers applied afterwards.  Lucene solves this
# with its LRU query cache; here the cache lives in each executor's
# long-lived Python worker.  Keys hash the posting BYTES and the shard's
# doc-length bytes, so a rebuilt index can never serve stale entries
# (rank-identity tests pass with the cache hot or cold).  Bounded: when the
# cap is reached the cache is cleared wholesale (simple, GC-friendly).
# ---------------------------------------------------------------------------

_CONTRIB_CACHE: dict = {}
_CONTRIB_CACHE_BYTES = 0
_CONTRIB_CACHE_CAP = 256 * 1024 * 1024


def _dl_token(dl: np.ndarray) -> bytes:
    return hashlib.md5(dl.tobytes()).digest()


def _contrib_cached(buf: bytes, base: int, dl, avgdl, k1, b, dl_tok):
    """(local offsets, tf/(tf+Kd)) for one posting list — decoded once per
    worker process, reused across queries."""
    global _CONTRIB_CACHE_BYTES
    key = (hashlib.md5(buf).digest(), dl_tok, base, avgdl, k1, b)
    ent = _CONTRIB_CACHE.get(key)
    if ent is None:
        ids, tfs = decode_postings(buf)
        off = (ids - np.uint64(base)).astype(np.int64)
        Kd = k1 * (1.0 - b + b * dl[off] / avgdl)
        norm = tfs.astype(np.float64) / (tfs + Kd)
        sz = off.nbytes + norm.nbytes
        if _CONTRIB_CACHE_BYTES + sz > _CONTRIB_CACHE_CAP:
            _CONTRIB_CACHE.clear()
            _CONTRIB_CACHE_BYTES = 0
        _CONTRIB_CACHE[key] = ent = (off, norm)
        _CONTRIB_CACHE_BYTES += sz
    return ent


def _make_decode_kernel(meta: dict, bases: dict, tombs: np.ndarray):
    """Cogroup kernel behind the decoded relation (:meth:`IndexHandle.warm`):
    one (gen, shard)'s posting lists and norms -> ``(term, doc_id, norm)``
    rows with GLOBAL doc_ids, tombstoned docs dropped.  ``norm`` is
    tf/(tf+Kd) by :func:`_contrib_cached`'s exact numpy operations, so the
    decoded shape's ``w*norm`` equals the kernels' contribution bit for
    bit."""
    shard_size, k1, b = meta["shard_size"], meta["k1"], meta["b"]
    avgdl = meta["avg_doc_len"] or 1.0

    def decode(key, p_pdf: pd.DataFrame, n_pdf: pd.DataFrame) -> pd.DataFrame:
        if p_pdf.empty or n_pdf.empty:
            return pd.DataFrame({"term": [], "doc_id": [], "norm": []}).astype(
                {"term": "str", "doc_id": "int64", "norm": "float64"}
            )
        gen, shard = int(key[0]), int(key[1])
        base = shard * shard_size
        dl = _norms_dl(n_pdf)
        ids, tfs, bounds = decode_postings_group(p_pdf["postings"].values)
        off = (ids - np.uint64(base)).astype(np.int64)
        Kd = k1 * (1.0 - b + b * dl[off] / avgdl)
        norm = tfs.astype(np.float64) / (tfs + Kd)
        doc_id = off + (base + bases[gen])
        term = np.repeat(p_pdf["term"].values, np.diff(bounds))
        if tombs.size:
            live = ~np.isin(doc_id, tombs)
            term, doc_id, norm = term[live], doc_id[live], norm[live]
        return pd.DataFrame({"term": term, "doc_id": doc_id, "norm": norm})

    return decode


def _postings_by_term(p_pdf: pd.DataFrame) -> dict:
    """{term: postings_bytes} via .values arrays — pd.itertuples has a
    ~1.4 ms fixed cost per call (profiled), paid once per (gen, shard)
    group at query time."""
    return dict(zip(p_pdf["term"].values, p_pdf["postings"].values))


def _make_exhaustive_kernel(queries, N, avgdl, k1, b, shard_size, k,
                            bases, dfs, tombs, allows=None, boosts=None):
    """Vectorized per-(gen, shard) kernel over a query SET: decode each
    needed posting list once per shard, accumulate one float64 score
    vector per query, bounded top-k per query.  Called as ``(key, p_pdf,
    dl)`` with ``dl`` the shard's doc lengths (:func:`_apply_kernel`).
    O(total postings) numpy work, no per-posting Python; a set of many
    queries is the eval-pipeline shape (reference runs 75 TREC topics per
    run, reference: backend/evaluation/evaluation_pipeline.py:122-150).

    ``queries``: {query_id: {term: qtf}}.  ``bases``: {gen: global doc_id
    offset}.  ``dfs``: {term: GLOBAL df}.  ``tombs``: sorted GLOBAL
    doc_ids never returned.  ``allows``: {query_id: sorted allow-mask}
    (pushed filter context, B4).  ``boosts``: {query_id: (sorted global
    doc_ids, multipliers)} (pushed function-score, B3), applied to the
    full accumulated scores BEFORE the per-shard heap — exact, since every
    match's boosted score is materialized and no pruning bound has to
    account for the multiplier.
    """
    all_terms = sorted({t for q in queries.values() for t in q})
    idf = {t: _idf(N, dfs[t]) for t in all_terms}
    terms_sorted = {qid: sorted(qtf) for qid, qtf in queries.items()}
    allows = allows or {}
    boosts = boosts or {}

    def kernel(key, p_pdf: pd.DataFrame, dl: np.ndarray) -> pd.DataFrame:
        gen, shard = int(key[0]), int(key[1])
        base = shard * shard_size  # gen-LOCAL shard base (norms/postings ids)
        gbase = base + bases[gen]
        by_term = _postings_by_term(p_pdf)
        # decode + per-term normalized contribution, shared across the
        # set's queries (and across calls via the worker contribution cache)
        dl_tok = _dl_token(dl)
        contrib = {
            t: _contrib_cached(bytes(by_term[t]), base, dl, avgdl, k1, b, dl_tok)
            for t in all_terms
            if t in by_term
        }
        frames = []
        for qid, qtf in queries.items():
            acc = np.zeros(dl.size, dtype=np.float64)
            for term in terms_sorted[qid]:  # fixed summation order == oracle
                c = contrib.get(term)
                if c is not None:
                    acc[c[0]] += (qtf[term] * idf[term]) * c[1]
            dead = _dead_mask(tombs, allows.get(qid), gbase, dl.size)
            if dead is not None:
                acc[dead] = 0.0
            bst = boosts.get(qid)
            if bst is not None:
                bids, bvals = bst
                lo = int(np.searchsorted(bids, gbase))
                hi = int(np.searchsorted(bids, gbase + dl.size))
                if hi > lo:
                    acc[(bids[lo:hi] - gbase).astype(np.int64)] *= bvals[lo:hi]
            top = _tagged(_topk_from_scores(acc, gbase, k), qid)
            if len(top):
                frames.append(top)
        if len(frames) == 1:
            return frames[0]
        return pd.concat(frames, ignore_index=True) if frames else _empty_result()

    return kernel


def _make_pruned_kernel(queries, N, avgdl, k1, b, shard_size, k,
                        bases, dfs, tombs, allows=None, boosts=None,
                        profile=False):
    """Vectorized ITERATIVE block-max pruned kernel: WAND-grade block
    skipping with no per-posting Python (the scale answer to 'exhaustive
    decodes every posting of every hot term'; complements §2.8-B6's
    doc-at-a-time WAND).

    Term-at-a-time in DESCENDING weight (w = qtf*idf) order, all numpy:

      * The heaviest term is decoded fully (it is its own best seed).
      * Before each remaining term t: theta = k-th largest of the working
        partial-score array.  working(d) <= final(d) pointwise (it sums a
        subset of d's contributions), and order statistics are monotone
        under pointwise domination, so theta is a LOWER bound on the true
        k-th best final score — pruning strictly below theta can never
        evict a true top-k doc, and ties survive (a pruned doc's final
        score is STRICTLY below theta).
      * Per undecoded term, per block, the contribution upper bound
        ub = w * max_tf / (max_tf + k1*(1-b)) (dl -> 0: above any
        achievable value) is painted onto the shard's doc space as a step
        function (np.add.at + cumsum — one piecewise-constant profile
        U(d) over ALL still-undecoded terms, t included).  Doc d stays
        alive iff working(d) + U(d) >= theta.  A block of t is decoded iff
        its doc range contains ANY alive doc (prefix-sum lookup);
        :func:`decode_blocks` batch-decodes the survivors.  Decoded
        contributions then join the working array, so theta TIGHTENS for
        every later term (the single-seed theta of the first cut of this
        kernel left hot multi-term queries with 100% block survival —
        measured; the iterative refinement is what makes skipping fire).
      * A top-k doc stays alive at every step by induction: alive docs
        receive ALL contributions of the current term (their blocks
        contain an alive doc — themselves), so their working score stays
        exact, and working(d) + U(d) >= final(d) >= theta for them.
        A doc pruned at any step is strictly below the final k-th score
        and its (possibly understated) accumulated score can never
        displace a true top-k doc.

    Per-term contribution arrays are computed ONCE and cached; the final
    accumulate replays them in term-sorted order — bit-identical float
    summation order to the exhaustive kernel and the SQL oracle.  Worst
    case (nothing prunable) this decodes exactly what exhaustive decodes,
    plus only directory/profile/theta overhead that is O(num_blocks +
    shard_docs) per term — independent of posting count.

    ``profile=True`` turns the kernel into its own introspection twin: the
    SAME control flow runs, but the output is one row per (gen, shard,
    term) describing what the pruning actually did (blocks decoded vs
    total, decode mode, alive-doc count, theta at decision time) instead
    of top-k rows — the per-shard evidence for "did block skipping fire on
    this query" that tail-latency tuning needs (VERDICT r3 task #5).

    Takes the same arguments as :func:`_make_exhaustive_kernel` but only a
    set of ONE query and no boost: a multiplier can lift a doc past any
    unboosted block-max bound (:func:`_choose_kernel` never routes a
    boosted query here).
    """
    ((qid, qtf),) = queries.items()
    assert not boosts, "block-max pruning is inadmissible under boost"
    allow = (allows or {}).get(qid)
    terms_sorted = sorted(qtf)

    def kernel(key, p_pdf: pd.DataFrame, dl: np.ndarray) -> pd.DataFrame:
        gen, shard = int(key[0]), int(key[1])
        base = shard * shard_size
        nd = dl.size
        by_term = _postings_by_term(p_pdf)
        # tombstone/filter mask applied at contribution time so the working
        # array (and thus theta) never counts dead docs — an inflated theta
        # could otherwise prune a live doc that belongs in the live top-k.
        dead = _dead_mask(tombs, allow, base + bases[gen], nd)

        # directories + weights + per-term block upper-bound step profiles
        dirs, steps = {}, {}
        for term in terms_sorted:
            row = by_term.get(term)
            if row is None:
                continue
            df = dfs[term]
            buf = bytes(row)
            n, firsts, max_tfs, nb, offs = decode_directory(buf)
            if not n:
                continue
            w = qtf[term] * _idf(N, df)
            dirs[term] = (w, buf, n, firsts, max_tfs, nb, offs, int(df))
            mt = max_tfs.astype(np.float64)
            starts = np.clip(
                (firsts - np.uint64(base)).astype(np.int64), 0, nd
            )
            ends = np.empty_like(starts)
            ends[:-1] = starts[1:]  # next block's first bounds the range
            ends[-1] = nd
            steps[term] = (starts, ends, w * mt / (mt + k1 * (1.0 - b)))
        if not dirs:
            return _empty_profile() if profile else _empty_result()

        dl_tok = _dl_token(dl)
        stats: list[tuple] = []  # profile rows: one per term processed

        def live(off, vals):
            if dead is None:
                return off, vals
            keep = ~dead[off]
            return off[keep], vals[keep]

        def contrib_of(term, ids_t, tfs_t):
            off, tfs_t = live((ids_t - np.uint64(base)).astype(np.int64), tfs_t)
            Kd = k1 * (1.0 - b + b * dl[off] / avgdl)
            return off, dirs[term][0] * (
                tfs_t.astype(np.float64) / (tfs_t + Kd)
            )

        def full_contrib(term):
            """Full-decode contribution via the cross-query cache (hot
            terms decode once per worker; per-query w is a scalar)."""
            off, norm = live(*_contrib_cached(
                dirs[term][1], base, dl, avgdl, k1, b, dl_tok
            ))
            return off, dirs[term][0] * norm

        order = sorted(dirs, key=lambda t: (-dirs[t][0], t))
        contribs = {}

        t0 = order[0]
        off0, c0 = full_contrib(t0)
        contribs[t0] = (off0, c0)
        if profile:
            nb0 = len(dirs[t0][3])
            stats.append((gen, shard, t0, dirs[t0][0], dirs[t0][7],
                          nb0, nb0, "seed", nd, float("nan")))

        working = np.zeros(nd, dtype=np.float64)
        working[off0] += c0
        for i in range(1, len(order)):
            t = order[i]
            w, buf, n, firsts, max_tfs, nb, offs, t_df = dirs[t]
            theta = (
                float(np.partition(working, nd - k)[nd - k])
                if nd > k else -math.inf
            )
            # upper-bound profile over ALL still-undecoded terms (t incl.)
            diff = np.zeros(nd + 1, dtype=np.float64)
            for u in order[i:]:
                starts, ends, ub = steps[u]
                np.add.at(diff, starts, ub)
                np.add.at(diff, ends, -ub)
            alive = working + np.cumsum(diff[:-1]) >= theta
            alive_prefix = np.concatenate(
                ([0], np.cumsum(alive, dtype=np.int64))
            )
            starts, ends, _ = steps[t]
            keep = np.flatnonzero(
                alive_prefix[ends] - alive_prefix[starts] > 0
            )
            if keep.size > 0.5 * len(firsts):
                # little to skip: one full-pass decode beats the
                # per-block selective loop (adaptive, measured) — and the
                # full decode is served by the cross-query cache
                off_t, c_t = full_contrib(t)
                mode, n_dec = "full", len(firsts)
            else:
                ids_t, tfs_t = decode_blocks(buf, keep, n, firsts, nb, offs)
                off_t, c_t = contrib_of(t, ids_t, tfs_t)
                mode, n_dec = "selective", int(keep.size)
            if profile:
                stats.append((gen, shard, t, w, t_df, len(firsts), n_dec,
                              mode, int(alive.sum()), float(theta)))
            contribs[t] = (off_t, c_t)
            if i + 1 < len(order):  # last term: no further theta needed
                working[off_t] += c_t

        if profile:
            return _profile_pdf(stats)
        # final accumulate in term-sorted order == oracle summation order
        acc = np.zeros(nd, dtype=np.float64)
        for term in terms_sorted:
            d = contribs.get(term)
            if d is None or not len(d[0]):
                continue
            acc[d[0]] += d[1]
        return _tagged(_topk_from_scores(acc, base + bases[gen], k), qid)

    return kernel


def _make_wand_kernel(queries, N, avgdl, k1, b, shard_size, k,
                      bases, dfs, tombs, allows=None, boosts=None):
    """Block-max WAND per-shard kernel (north rule; SURVEY.md §2.8-B6).

    Term upper bound uses dl->0, which is STRICTLY above any achievable
    contribution for b<1 and dl>=1, so pruning at sum_ub <= theta can never
    drop a doc that ties theta — tie-break exactness is preserved.
    Blocks are skipped via the directory (first_doc_id per block) without
    decoding; per-block max_tf refines the bound.  A set of ONE query
    without boost, like :func:`_make_pruned_kernel`.
    """
    ((qid, qtf),) = queries.items()
    assert not boosts, "block-max pruning is inadmissible under boost"
    allow = (allows or {}).get(qid)
    terms_sorted = sorted(qtf)

    class TermState:
        __slots__ = (
            "term", "w", "buf", "n", "firsts", "max_tfs", "nbytes",
            "offsets", "bidx", "ids", "tfs", "ptr", "ub",
        )

        def __init__(self, term, w, buf):
            self.term, self.w, self.buf = term, w, buf
            self.n, self.firsts, self.max_tfs, self.nbytes, self.offsets = (
                decode_directory(buf)
            )
            self.bidx = -1
            self.ids = self.tfs = None
            self.ptr = 0
            self.ub = w / (1.0 + k1 * (1.0 - b))  # tf=1 lower bound refined below

        def _load_block(self, bi):
            self.bidx = bi
            self.ids, self.tfs = decode_blocks(
                self.buf, [bi], self.n, self.firsts, self.nbytes, self.offsets
            )
            self.ptr = 0

        def cur_doc(self):
            if self.bidx == -2:
                return None
            if self.bidx == -1:
                self._load_block(0)
            return int(self.ids[self.ptr])

        def cur_tf(self):
            return int(self.tfs[self.ptr])

        def advance(self):
            self.ptr += 1
            if self.ptr >= len(self.ids):
                if self.bidx + 1 < len(self.firsts):
                    self._load_block(self.bidx + 1)
                else:
                    self.bidx = -2

        def seek(self, target):
            """Advance to first doc >= target, skipping blocks via directory."""
            if self.bidx == -2:
                return
            if self.bidx == -1:
                self._load_block(0)
            if int(self.ids[-1]) < target:
                bi = int(np.searchsorted(self.firsts, target, side="right")) - 1
                bi = max(bi, self.bidx + 1)
                if bi >= len(self.firsts):
                    self.bidx = -2
                    return
                self._load_block(bi)
                while int(self.ids[-1]) < target:
                    if self.bidx + 1 >= len(self.firsts):
                        self.bidx = -2
                        return
                    self._load_block(self.bidx + 1)
            self.ptr = int(np.searchsorted(self.ids, target))
            if self.ptr >= len(self.ids):
                self.advance()

    def kernel(key, p_pdf: pd.DataFrame, dl: np.ndarray) -> pd.DataFrame:
        gen, shard = int(key[0]), int(key[1])
        base = shard * shard_size
        # dead docs are scored (states must advance past them) but never
        # pushed, so theta stays the k-th best LIVE score — a valid (never
        # inflated) pruning bound for the live top-k
        dead = _dead_mask(tombs, allow, base + bases[gen], dl.size)

        states = []
        by_term = _postings_by_term(p_pdf)
        for term in terms_sorted:
            row = by_term.get(term)
            if row is None:
                continue
            w = qtf[term] * _idf(N, dfs[term])
            st = TermState(term, w, bytes(row))
            if st.n:
                # strict UB: dl -> 0 (never achieved; dl >= 1 for matches)
                mt = float(max(st.max_tfs.max(), 1))
                st.ub = w * mt / (mt + k1 * (1.0 - b))
                states.append(st)
        if not states:
            return _empty_result()

        heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap
        theta = -math.inf

        def score_doc(doc):
            s = 0.0
            for st in sorted(
                (t for t in states if t.cur_doc() == doc), key=lambda t: t.term
            ):
                tf = float(st.cur_tf())
                Kd = k1 * (1.0 - b + b * dl[doc - base] / avgdl)
                s += st.w * (tf / (tf + Kd))
                st.advance()
            return s

        while True:
            live = [st for st in states if st.cur_doc() is not None]
            if not live:
                break
            live.sort(key=lambda st: st.cur_doc())
            ub_sum, pivot_i = 0.0, -1
            for i, st in enumerate(live):
                ub_sum += st.ub
                if len(heap) < k or ub_sum > theta:
                    pivot_i = i
                    break
            if pivot_i < 0:
                break
            pivot_doc = live[pivot_i].cur_doc()
            if live[0].cur_doc() == pivot_doc:
                s = score_doc(pivot_doc)
                if dead is not None and dead[pivot_doc - base]:
                    continue  # advance happened in score_doc; never push
                entry = (s, -pivot_doc)
                if len(heap) < k:
                    heapq.heappush(heap, entry)
                    if len(heap) == k:
                        theta = heap[0][0]
                elif entry > heap[0]:
                    heapq.heapreplace(heap, entry)
                    theta = heap[0][0]
            else:
                for st in live[:pivot_i]:
                    st.seek(pivot_doc)

        if not heap:
            return _empty_result()
        out = sorted(heap, key=lambda e: (-e[0], -e[1]))
        return pd.DataFrame({
            "query_id": qid,
            "doc_id": np.array([bases[gen] - d for _, d in out], np.int64),
            "score": np.array([s for s, _ in out], np.float64),
        })

    return kernel


def analyze_query(query_text: str, mode: str) -> Counter:
    """Query analysis with the indexing chain; repeated terms -> qtf weight."""
    return Counter(tokenize_text(query_text, mode))


class IndexHandle:
    """Opened index: meta + lazily-read postings/norms parquet scans,
    shared across queries.  ``warm()`` preloads the term dictionary and,
    under its postings cap, caches the decoded (term, doc_id, norm)
    relation that default queries then score in the JVM
    (``self.decoded``), the one relation it caches.

    Delta generations (``segments.read_generations``): postings/norms are
    the union of every generation's segments tagged with a ``gen`` column,
    meta's num_docs/avg_doc_len/total_terms are the global stats summed
    from the generations' meta.json, and per-term GLOBAL df is looked up
    in the global term dictionary (pruned to the query terms — a tiny
    parquet scan).  Scores are then exactly the scores a full rebuild would
    produce; only internal doc_id assignment (and thus score-tie order)
    differs.  Opening a handle runs no Spark job."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.gens = seg.read_generations(index_dir)
        self.meta = {
            **seg.read_meta(index_dir),
            **seg.global_stats(index_dir, self.gens),
        }
        self.bases = {int(g["gen"]): int(g["base"]) for g in self.gens}
        self.postings = seg.scan_generations(
            spark, index_dir, self.gens, seg.POSTINGS
        )
        self.norms = seg.scan_generations(
            spark, index_dir, self.gens, seg.NORMS
        )
        self._term_stats = seg.term_stats_path(index_dir, self.gens)
        self._df_cache: dict[str, int] = {}
        self._df_preloaded = False
        # the cached (term, doc_id, norm) relation of the decoded shape —
        # set by warm() below its postings cap (see _score_decoded)
        self.decoded: DataFrame | None = None
        # analyzed-plan cache: (qtf items, k, kernel) -> top-k DataFrame,
        # least recently used evicted past _PLAN_CACHE_CAP (see
        # _cached_plan).  A query service sees the same query texts
        # repeatedly; rebuilding + re-analyzing the identical plan cost
        # ~45 ms/query (profiled round 6).  The cache holds PLANS, never
        # results — every collect re-executes against the live relations —
        # and dies with the handle (engine.build/upsert/delete reset the
        # handle).
        self._plan_cache: OrderedDict = OrderedDict()
        self._plan_lock = threading.Lock()
        # upsert/delete tombstones (GLOBAL doc_ids, sorted) — masked inside
        # the kernels; empty for indexes that never upserted (the common
        # case: zero overhead).  Stats keep counting tombstoned docs until
        # compaction (Lucene deleted-docs parity, see incremental.py).
        self.tombstones = np.array(
            seg.read_tombstones(index_dir), dtype=np.int64
        )

    def global_dfs(self, terms) -> dict[str, int]:
        """{term: GLOBAL df} from the term dictionary (format v2: postings
        carry no df — like Lucene's term-metadata/posting-data split).
        Missing terms get df=0 entries so repeated no-hit terms don't re-pay
        the lookup.  The lookup is a term-pruned scan of the terms-level
        table (In(term) pushdown) and is cached per handle; ``warm()``
        preloads the whole dictionary when it is small enough."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing and not self._df_preloaded:
            rows = (
                self.spark.read.parquet(self._term_stats)
                .where(F.col("term").isin(missing))
                .select("term", "df")
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache.get(t, 0) for t in terms}

    def doc_meta_df(self) -> DataFrame:
        """doc_meta across generations with GLOBAL doc_ids; tombstoned
        (superseded/deleted) docs are filtered out — invisible everywhere."""
        return self._drop_tombstoned(
            seg.doc_meta_global(self.spark, self.index_dir, self.gens)
        )

    def _drop_tombstoned(self, df: DataFrame) -> DataFrame:
        """Broadcast left-anti join against the tombstone ids: the plan
        carries them as one local relation, never as an IN-list
        expression that grows with every delete."""
        if not self.tombstones.size:
            return df
        tombs = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": self.tombstones})
        )
        return df.join(F.broadcast(tombs), "doc_id", "left_anti")

    def _cached_plan(self, key, build) -> DataFrame:
        """The plan cached under ``key``, else ``build()``'s, cached.
        Bounded LRU: a hit becomes most recent, an insert past
        _PLAN_CACHE_CAP evicts the least recently used plan.  Serving
        threads share the handle, so map updates hold a lock (the build
        itself runs outside it)."""
        with self._plan_lock:
            plan = self._plan_cache.get(key)
            if plan is not None:
                self._plan_cache.move_to_end(key)
                return plan
        plan = build()
        with self._plan_lock:
            self._plan_cache[key] = plan
            self._plan_cache.move_to_end(key)
            while len(self._plan_cache) > _PLAN_CACHE_CAP:
                self._plan_cache.popitem(last=False)
        return plan

    def warm(self) -> "IndexHandle":
        """Preload the term dictionary (term -> global df) into the driver
        when it has <= ``_PRELOAD_TERMS_CAP`` entries, eliminating the
        per-query df-lookup job; at web-scale vocabularies the cap keeps
        the driver safe and lookups stay per-query term-pruned scans.

        When the index holds <= ``_DECODED_POSTINGS_CAP`` postings (the sum
        of global df), every posting list is also decoded ONCE, by a
        (gen, shard) cogroup of the postings and norms scans
        (:func:`_make_decode_kernel`), into ``(term, doc_id, norm)`` rows —
        global doc_ids, tombstones dropped (they are fixed per handle:
        every mutation replaces it) — hashed on doc_id, term-sorted within
        each partition so cached-batch min/max stats skip most batches of
        a term-filtered scan, and cached.  Default queries then score in
        the JVM over it (:func:`_score_decoded`): no Python stage per
        query.  The cached relation measured ~10 B/posting against ~1.5 B
        encoded, so the cap bounds it near 120 MB.  Past the cap — the
        100 TB case — queries run the cogroup kernel over the term-pruned
        parquet scan, as on a cold handle."""
        # plans built pre-warm reference the cogroup path; correct but
        # slow — rebuild them against the decoded relation
        self._plan_cache.clear()
        ts = self.spark.read.parquet(self._term_stats)
        if ts.count() <= _PRELOAD_TERMS_CAP:
            self._df_cache = {
                r["term"]: int(r["df"])
                for r in ts.select("term", "df").collect()
            }
            self._df_preloaded = True
        n_postings = (
            sum(self._df_cache.values()) if self._df_preloaded
            else int(ts.agg(F.sum("df")).collect()[0][0] or 0)
        )
        if n_postings <= _DECODED_POSTINGS_CAP:
            n = max(1, int(self.meta["n_shards"])) * max(1, len(self.bases))
            self.decoded = (
                self.postings.groupby("gen", "shard")
                .cogroup(self.norms.groupby("gen", "shard"))
                .applyInPandas(
                    _make_decode_kernel(self.meta, self.bases,
                                        self.tombstones),
                    _DECODED_SCHEMA,
                )
                .repartition(n, "doc_id")
                .sortWithinPartitions("term")
                .persist()
            )
            self.decoded.count()
        return self

    def close(self) -> None:
        if self.decoded is not None:
            self.decoded.unpersist()
            self.decoded = None
        self._plan_cache.clear()


_KERNELS = {
    "exhaustive": _make_exhaustive_kernel,
    "pruned": _make_pruned_kernel,
    # the doc-at-a-time Python WAND (VERDICT r3 task #6): a TEST-ONLY
    # ORACLE of the vectorized block-max kernels — per-posting Python
    # pointer chasing, measured 3.5x slower than exhaustive at sf1.0,
    # never a production win
    "wand_ref": _make_wand_kernel,
}

# Adaptive default: block-skip bookkeeping only pays once the candidate
# pool (summed global df) exceeds this many times k — rare-term/no-hit
# queries never fill the heap threshold, so every block stays competitive
# and the per-block upper-bound pass is pure overhead.
_PRUNE_RATIO = 16

# Filter-context pushdown (B4): survivor sets up to this many doc_ids ship
# inside the kernel closure as a sorted int64 allow-mask (~2 MB at the cap —
# Spark broadcasts large task binaries once per executor).  Beyond the cap
# the score-everything + semi-join path is the better plan anyway: a filter
# keeping >256k docs is not selective.
_FILTER_PUSH_CAP = 1 << 18

# Function-score pushdown (B3): boost maps up to this many (doc_id, value)
# pairs ship inside the kernel closure as a sorted-id pair of int64/float64
# arrays (~2 MB at the cap).  Beyond it — a per-doc boost over a large
# corpus (recency over everything) — the score-everything + join path is
# the right plan: the boost table itself is distributed data there.
_BOOST_PUSH_CAP = 1 << 17

# Plans kept per handle by search()'s plan cache (least recently used
# evicted first).
_PLAN_CACHE_CAP = 512

# warm() preloads the term dictionary into the driver up to this many
# terms; past it, each query looks its dfs up by a term-pruned scan.
_PRELOAD_TERMS_CAP = 2_000_000

# warm() caches the decoded postings relation up to this many postings
# (~120 MB at the ~10 B/posting measured); past it, queries run the
# cogroup kernel over the parquet scan.
_DECODED_POSTINGS_CAP = 12_000_000


def _choose_kernel(
    queries: dict, dfs: dict, k: int, kernel: str | None = None,
    boosted: bool = False,
) -> tuple[str, int]:
    """(kernel name, the set's summed global df) — the one kernel choice,
    shared by :func:`_candidates` and :func:`profile_query`.

    Every set of several queries, and any boosted query, runs the
    exhaustive set kernel: a multiplier >1 can promote a doc past any
    unboosted block-max upper bound, so pruning is inadmissible under
    pushed boost.  A set of one query without boost takes ``kernel`` when
    given, else the adaptive default (all kernels are rank-identical, so
    this is a pure cost choice): 'pruned' once the candidate pool exceeds
    ``_PRUNE_RATIO * k``, else 'exhaustive'."""
    n_cand = sum(dfs[t] for q in queries.values() for t in q)
    if len(queries) != 1 or boosted:
        return "exhaustive", n_cand
    if kernel is not None:
        return kernel, n_cand
    return ("pruned" if n_cand > _PRUNE_RATIO * k else "exhaustive"), n_cand


def _make_kernel(name: str, handle: IndexHandle, queries: dict, k: int,
                 dfs: dict, **kw):
    meta = handle.meta
    return _KERNELS[name](
        queries, meta["num_docs"], meta["avg_doc_len"] or 1.0,
        meta["k1"], meta["b"], meta["shard_size"], k,
        handle.bases, dfs, handle.tombstones, **kw,
    )


def _apply_kernel(
    handle: IndexHandle, terms: list, kernel, schema,
    empty_fn=_empty_result,
) -> DataFrame:
    """Run a per-(gen, shard) kernel over the term-pruned parquet postings
    scan cogrouped with the shard's norms — the cogroup shape, shared by
    scoring and profiling.  The norm chunks are pruned to the shards with
    hits by a broadcast semi-join."""
    postings = handle.postings.where(F.col("term").isin(list(terms)))
    hit_shards = postings.select("gen", "shard").distinct()
    norms = handle.norms.join(
        F.broadcast(hit_shards), ["gen", "shard"], "left_semi"
    )

    def run_cogroup(key, p_pdf, n_pdf):
        if p_pdf.empty or n_pdf.empty:
            return empty_fn()
        return kernel(key, p_pdf, _norms_dl(n_pdf))

    return (
        postings.groupby("gen", "shard")
        .cogroup(norms.groupby("gen", "shard"))
        .applyInPandas(run_cogroup, schema)
    )


def _prepare_pushdowns(
    filters: dict[str, DataFrame],
    boosts: dict[str, DataFrame],
) -> tuple[dict, dict, set]:
    """Collect per-query filter/boost tables into kernel-pushable arrays.

    Returns (allows, boost_arrs, fallback_qids): ``allows[qid]`` is the
    sorted int64 allow-mask, ``boost_arrs[qid]`` the sorted (ids, vals)
    multiplier pair; any query whose table is oversized or edge-valued
    lands in ``fallback_qids`` and must be served by the exact
    score-everything + join path instead (:func:`_fallback_join`)."""
    allows: dict = {}
    boost_arrs: dict = {}
    fallback: set = set()
    # NULL doc_ids are dropped up front on BOTH paths' behalf: a NULL key
    # never matches on the join path either (left-semi / left join on
    # doc_id), so the pushed plan stays row-identical.
    for qid, fdf in filters.items():
        ids = [
            r[0] for r in fdf.select("doc_id")
            .where(F.col("doc_id").isNotNull())
            .limit(_FILTER_PUSH_CAP + 1).collect()
        ]
        if len(ids) <= _FILTER_PUSH_CAP:
            allows[qid] = np.unique(np.asarray(ids, dtype=np.int64))
        else:
            fallback.add(qid)
    for qid, bdf in boosts.items():
        if qid in fallback:
            continue
        rows = (
            bdf.select("doc_id", "_boost")
            .where(F.col("doc_id").isNotNull())
            .limit(_BOOST_PUSH_CAP + 1).collect()
        )
        if len(rows) > _BOOST_PUSH_CAP:
            fallback.add(qid)
            continue
        bids = np.asarray([r[0] for r in rows], dtype=np.int64)
        bvals = np.asarray(
            [1.0 if r[1] is None else float(r[1]) for r in rows],
            dtype=np.float64,
        )
        order = np.argsort(bids, kind="stable")
        bids, bvals = bids[order], bvals[order]
        if bids.size and (
            np.unique(bids).size != bids.size
            or not np.isfinite(bvals).all()
            or (bvals == 0.0).any()
        ):
            fallback.add(qid)
        else:
            boost_arrs[qid] = (bids, bvals)
    return allows, boost_arrs, fallback


def _score_set(
    handle: IndexHandle, queries: dict, k: int, kernel: str | None = None,
    allows: dict | None = None, boosts: dict | None = None,
) -> DataFrame:
    """Score a query set in the handle's shape: ``(query_id, doc_id,
    score)`` rows holding every per-query top-k row — every match on the
    decoded shape, per-(gen, shard) top-k on the cogroup shape."""
    allows = {q: v for q, v in (allows or {}).items() if q in queries}
    boosts = {q: v for q, v in (boosts or {}).items() if q in queries}
    terms = sorted({t for q in queries.values() for t in q})
    dfs = handle.global_dfs(terms)
    if kernel is None and handle.decoded is not None:
        return _score_decoded(handle, queries, terms, dfs, allows, boosts)
    name, _ = _choose_kernel(queries, dfs, k, kernel, bool(boosts))
    fn = _make_kernel(name, handle, queries, k, dfs,
                      allows=allows, boosts=boosts)
    return _apply_kernel(handle, terms, fn, _CANDIDATE_SCHEMA)


def _score_decoded(
    handle: IndexHandle, queries: dict, terms: list, dfs: dict,
    allows: dict, boosts: dict,
) -> DataFrame:
    """The decoded (JVM) shape: score a query set over the cached
    ``(term, doc_id, norm)`` relation in plain plan nodes.

    Term filter (cached-batch min/max stats skip batches of other terms)
    -> broadcast join with the set's ``(query_id, term, pos, w)`` table,
    ``w = qtf*idf`` from the driver and ``pos`` the term's rank in its
    query's sorted terms -> ``groupBy(query_id, doc_id)``, with no
    exchange since the relation is hashed on doc_id -> one conditional
    ``max`` per pos (one row per (doc, term), so it picks ``w*norm``) ->
    ``((0.0 + c0) + c1) + ...`` with absent terms as 0.0, in float64:
    the kernels' ``acc += w*norm`` in term-sorted order, bit for bit.
    Pushed allow-masks join as a broadcast (query_id, doc_id) table,
    keeping every row of a query without one; pushed boosts multiply the
    summed score, as in the kernels."""
    spark = handle.spark
    N = handle.meta["num_docs"]
    # built from pandas: Arrow-converted small frames plan as a
    # LocalRelation, whose broadcast runs no job (a Python list would
    # become an RDD scan, one more job on every first-seen plan)
    qtab = spark.createDataFrame(
        pd.DataFrame(
            [(qid, t, pos, qtf[t] * _idf(N, dfs[t]))
             for qid, qtf in queries.items()
             for pos, t in enumerate(sorted(qtf))],
            columns=["query_id", "term", "pos", "w"],
        ),
        "query_id string, term string, pos int, w double",
    )
    contrib = F.col("w") * F.col("norm")
    score = reduce(
        lambda acc, i: acc + F.coalesce(
            F.max(F.when(F.col("pos") == i, contrib)), F.lit(0.0)),
        range(max(len(q) for q in queries.values())), F.lit(0.0),
    )
    scored = (
        handle.decoded.where(F.col("term").isin(terms))
        .join(F.broadcast(qtab), "term")
        .groupBy("query_id", "doc_id")
        .agg(score.alias("score"))
    )
    if allows:
        allow = spark.createDataFrame(pd.DataFrame({
            "query_id": np.repeat(list(allows), [a.size for a in allows.values()]),
            "doc_id": np.concatenate(list(allows.values())),
            "_allow": True,
        }))
        scored = (
            scored.join(F.broadcast(allow), ["query_id", "doc_id"], "left")
            .where(F.col("_allow").isNotNull()
                   | ~F.col("query_id").isin(list(allows)))
            .drop("_allow")
        )
    if boosts:
        boost = spark.createDataFrame(pd.DataFrame({
            "query_id": np.repeat(list(boosts),
                                  [v[0].size for v in boosts.values()]),
            "doc_id": np.concatenate([v[0] for v in boosts.values()]),
            "_boost": np.concatenate([v[1] for v in boosts.values()]),
        }))
        scored = (
            scored.join(F.broadcast(boost), ["query_id", "doc_id"], "left")
            .withColumn(
                "score",
                F.col("score") * F.coalesce(F.col("_boost"), F.lit(1.0)),
            )
            .drop("_boost")
        )
    return scored


def _fallback_join(
    scored: DataFrame,
    qids: list[str],
    filters: dict[str, DataFrame],
    boosts: dict[str, DataFrame],
) -> DataFrame:
    """Exact score-then-join for the FALLBACK set (queries whose
    filter/boost tables exceeded the push caps or carry join-defined edge
    values), over ``scored`` = every match of those queries (one scoring
    pass for the whole set).

    The per-query boost/filter tables are unioned with a ``query_id`` key
    and joined once: a left boost join (duplicate ids duplicate rows, NULL
    multipliers coalesce to 1.0), then a left-semi filter.  The front
    end's own merge cuts the rows to k, so they are ranked once.  Round-4
    verdict #3: a per-query driver loop here made a batch with Q
    oversized-table queries degrade to Q sequential jobs."""
    b_parts = [
        boosts[qid].select(F.lit(qid).alias("query_id"), "doc_id", "_boost")
        for qid in qids
        if qid in boosts
    ]
    if b_parts:
        ball = reduce(DataFrame.unionByName, b_parts)
        scored = (
            # no broadcast hint: boost tables range from tiny (a handful
            # of promoted docs) to per-doc (recency) — let AQE pick.
            scored.join(ball, ["query_id", "doc_id"], "left")
            .withColumn(
                "score",
                F.col("score") * F.coalesce(F.col("_boost"), F.lit(1.0)),
            )
            .drop("_boost")
        )
    has_f = sorted(qid for qid in qids if qid in filters)
    if has_f:
        # queries WITHOUT a filter table must keep all their rows, but a
        # where/union split would re-evaluate the kernel subtree once per
        # branch (two postings passes — caught by the EXPLAIN audit).
        # One left join against the DISTINCT allow-lists (distinct ==
        # left-semi row semantics) + a keep predicate costs one pass.
        fall = reduce(
            DataFrame.unionByName,
            [
                filters[qid].select(F.lit(qid).alias("query_id"), "doc_id")
                for qid in has_f
            ],
        ).distinct()
        scored = (
            scored.join(
                fall.withColumn("_allow", F.lit(True)),
                ["query_id", "doc_id"], "left",
            )
            .where(
                F.col("_allow").isNotNull()
                | ~F.col("query_id").isin(has_f)
            )
            .drop("_allow")
        )
    return scored


def _candidates(
    handle: IndexHandle,
    queries: dict[str, dict],
    k: int,
    kernel: str | None = None,
    filters: dict[str, DataFrame] | None = None,
    boosts: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """The one scoring path under every query entry point.

    ``queries``: {query_id: {term: qtf}} (empty qtfs are dropped).
    Returns ``(query_id, doc_id, score)`` rows containing every true
    top-k row of every query (:func:`_score_set`); each front end applies
    its own final merge.

    ``filters``/``boosts``: optional per-query filter-context (B4:
    membership only, never affects scores) / boost (B3: multiplicative
    function-score applied AFTER BM25) tables.  Pushable tables ride the
    kernel as a per-query allow-mask / multiplier array (top-k of the
    filtered/boosted set directly, exact — at 100 TB a selective filter or
    a small promotion table turns a score-everything pass into a top-k
    pass), or broadcast joins on the decoded shape; a query with an empty
    allow-mask has no rows and runs no kernel.  The rest — oversized
    tables, and boost tables with duplicate ids / zero / non-finite
    values, whose edge semantics belong to the join — score every match
    and join (:func:`_fallback_join`), unioned in.  ``kernel`` only applies to a set of one query without boost
    (:func:`_choose_kernel`)."""
    queries = {qid: dict(q) for qid, q in queries.items() if q}
    filters = {q: f for q, f in (filters or {}).items() if q in queries}
    boosts = {q: b for q, b in (boosts or {}).items() if q in queries}
    allows, boost_arrs, fallback = _prepare_pushdowns(filters, boosts)
    pushed = {
        qid: q for qid, q in queries.items()
        if qid not in fallback and (qid not in allows or allows[qid].size)
    }
    parts = []
    if pushed:
        parts.append(
            _score_set(handle, pushed, k, kernel, allows, boost_arrs)
        )
    fb = {qid: q for qid, q in queries.items() if qid in fallback}
    if fb:
        scored = _score_set(handle, fb, handle.meta["shard_size"])
        parts.append(_fallback_join(scored, sorted(fb), filters, boosts))
    if not parts:
        return handle.spark.createDataFrame([], _CANDIDATE_SCHEMA)
    return reduce(DataFrame.unionByName, parts)


def profile_query(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    k: int = 10,
    handle: IndexHandle | None = None,
) -> tuple[dict, DataFrame]:
    """Kernel introspection for one query: which kernel would the cogroup
    shape run, and did block-max pruning fire?  (A handle with the
    decoded relation scores default queries without a kernel; this
    profile, like every explicit-``kernel`` search, runs the cogroup
    shape over the parquet scan.)

    Returns ``(decision, stats_df)``:

    * ``decision`` — the driver-side adaptive-kernel choice
      (:func:`_choose_kernel`, the same call the cogroup shape makes) with
      its inputs: {kernel, n_candidates, threshold, k, terms: {term: df}}.
    * ``stats_df`` — the pruned kernel run in profile mode: one row per
      (gen, shard, term) with n_blocks / blocks_decoded / decode_mode
      ('seed' = heaviest term, full decode; 'full' = >50% blocks alive so
      cache-served full decode; 'selective' = block-skip fired) plus the
      alive-doc count and theta at decision time.  The stats run IS the
      real kernel (same closure, profile flag) — no simulation drift.

    This is the tuning loop for tail queries: a hot multi-term query whose
    rows all say decode_mode='full', alive_docs≈shard size has no skippable
    work (raise theta seeding / reorder terms); one that says 'selective'
    with small blocks_decoded is already pruned and its cost is elsewhere.
    """
    handle = handle or IndexHandle(spark, index_dir)
    qtf = analyze_query(query_text, handle.meta["mode"])
    decision = {"kernel": None, "n_candidates": 0,
                "threshold": _PRUNE_RATIO * k, "k": k, "terms": {}}
    if not qtf:
        return decision, spark.createDataFrame([], _PROFILE_SCHEMA)
    queries = {"q": dict(qtf)}
    dfs = handle.global_dfs(qtf)
    name, n_cand = _choose_kernel(queries, dfs, k)
    decision.update(
        kernel=name, n_candidates=int(n_cand),
        terms={t: int(dfs[t]) for t in qtf},
    )
    kernel = _make_kernel("pruned", handle, queries, k, dfs, profile=True)
    return decision, _apply_kernel(
        handle, list(qtf), kernel, _PROFILE_SCHEMA, empty_fn=_empty_profile,
    )


def search(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    k: int = 10,
    include_meta: bool = False,
    filter_doc_ids: DataFrame | None = None,
    boost: DataFrame | None = None,
    handle: IndexHandle | None = None,
    kernel: str | None = None,
) -> DataFrame:
    """Top-k BM25. Returns DataFrame (doc_id, score [, repo/path/...]).

    ``kernel``: None (default) scores on a warmed handle under the
    postings cap (``handle.decoded`` set) in the JVM over the decoded
    relation, with no kernel at all.  On a cold or past-cap handle None
    picks the cogroup kernel adaptively by global df — 'pruned'
    (vectorized block-max skip) once the candidate pool dwarfs k, else
    'exhaustive' (decode-everything; rare-term queries never fill the heap
    threshold, so skip bookkeeping is pure overhead there).  A named
    kernel always runs the cogroup shape.  'wand_ref' is
    the doc-at-a-time Python WAND, a test-only oracle (per-posting Python
    — correct but never a production win; kept for its equivalence
    property).  All kernels are rank-identical (equivalence-tested), so
    the choice is cost-only; any other value raises ValueError.

    ``filter_doc_ids``: optional (doc_id) DataFrame — exact filter context
    (B4): membership only, never affects scores, applied before the limit.
    ``boost``: optional (doc_id, _boost) DataFrame — multiplicative
    function-score applied AFTER BM25, exact either way: a per-doc
    multiplier can promote a doc past the unboosted per-shard heap cut, so
    boosted scoring is never pruned (B3 on the segment path, reference:
    backend/api/main.py:293-314).  How each is pushed into the kernel or
    joined: :func:`_candidates`.
    """
    if kernel is not None and kernel not in _KERNELS:
        raise ValueError(
            f"kernel must be None or one of {sorted(_KERNELS)}, "
            f"got {kernel!r}"
        )
    handle = handle or IndexHandle(spark, index_dir)
    qtf = analyze_query(query_text, handle.meta["mode"])
    if not qtf:
        return spark.createDataFrame([], _RESULT_SCHEMA)

    def build() -> DataFrame:
        return (
            _candidates(
                handle, {"q": qtf}, k, kernel,
                filters=None if filter_doc_ids is None
                else {"q": filter_doc_ids},
                boosts=None if boost is None else {"q": boost},
            )
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    if filter_doc_ids is None and boost is None:
        # Plan-skeleton cache (prepared-statement shape): a query service
        # sees the same texts repeatedly, and rebuilding + re-analyzing
        # the identical plan costs ~45 ms/query (build_df ~31 ms py4j +
        # first-collect Catalyst work; ftbench's query.plan_ms.first vs
        # query.plan_ms.repeat report the miss and hit cost).
        # Keyed on everything the plan closes over — (qtf, k, kernel);
        # dfs/tombstones/meta are fixed per handle, and every index
        # mutation replaces the handle.  Each collect on the cached
        # DataFrame re-executes the plan against the live relations:
        # plans are cached, results never.
        topk = handle._cached_plan(
            (tuple(sorted(qtf.items())), k, kernel), build
        )
    else:
        topk = build()
    return _with_meta(handle, topk, k) if include_meta else topk


def _with_meta(handle: IndexHandle, topk: DataFrame, k: int) -> DataFrame:
    dm = handle.doc_meta_df()
    return (
        dm.join(F.broadcast(topk), "doc_id")
        .select("doc_id", "score", "repo", "path", "commit", "lang")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def search_all(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    handle: IndexHandle | None = None,
) -> DataFrame:
    """Score ALL matching docs (no limit) — used for exact filtered search
    and for oracle comparisons. Same kernels with k = shard_size."""
    handle = handle or IndexHandle(spark, index_dir)
    qtf = analyze_query(query_text, handle.meta["mode"])
    if not qtf:
        return spark.createDataFrame([], _RESULT_SCHEMA)
    return _candidates(
        handle, {"q": qtf}, handle.meta["shard_size"]
    ).select("doc_id", "score")


def search_many(
    spark: SparkSession,
    index_dir: str,
    query_texts: dict[str, str],
    k: int = 10,
    handle: IndexHandle | None = None,
    filters: dict[str, DataFrame] | None = None,
    boosts: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Top-k for a SET of queries in one scoring pass.

    Returns DataFrame (query_id, doc_id, score, rank), rank-identical per
    query to :func:`search`.  Postings are scanned once for the union of
    all query terms, and each posting list is decoded (or read from the
    decoded relation) once for the whole set.  The global top-k merge is
    one per-query Window rank.

    ``filters``/``boosts``: optional per-query filter-context / boost
    tables keyed by query_id (B4/B3 on the batch path — the filtered-eval
    shape: 75 topics, each against its own cohort), same contract as
    :func:`search`'s (see :func:`_candidates`)."""
    from pyspark.sql import Window

    handle = handle or IndexHandle(spark, index_dir)
    mode = handle.meta["mode"]
    cands = _candidates(
        handle,
        {qid: analyze_query(t, mode) for qid, t in query_texts.items()},
        k, filters=filters, boosts=boosts,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def search_many_rows(
    spark: SparkSession,
    index_dir: str,
    query_texts: dict[str, str],
    k: int = 10,
    handle: IndexHandle | None = None,
    filters: dict[str, DataFrame] | None = None,
    boosts: dict[str, DataFrame] | None = None,
) -> dict[str, list[tuple[int, float]]]:
    """Driver-side twin of :func:`search_many`: its ranked rows — at most
    k per query, so the collect stays bounded even on the decoded shape,
    whose candidates are every match — as {query_id: [(doc_id, score)]}
    ordered by (score desc, doc_id asc).  ``filters``/``boosts``: same
    contract as :func:`search_many`."""
    ranked = search_many(spark, index_dir, query_texts, k, handle,
                         filters, boosts)
    # Arrow collect + one vectorized sort: per-Row python objects would
    # put a Q-linear serial term back on the driver.
    pdf = ranked.select("query_id", "doc_id", "score", "rank").toArrow()
    pdf = pdf.to_pandas().sort_values(["query_id", "rank"], kind="mergesort")
    out: dict[str, list[tuple[int, float]]] = {q: [] for q in query_texts}
    for qid, doc_id, score, _ in pdf.itertuples(index=False):
        out[qid].append((int(doc_id), float(score)))
    return out

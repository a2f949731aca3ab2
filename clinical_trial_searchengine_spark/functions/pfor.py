"""PForDelta posting-list codec (wire version 2) — the "PFD" half of the
north rule's "varint/PForDelta-compressed" posting lists.

Same logical layout as the varint codec (``codec.py``): per-term
self-contained buffer, varint header ``[version=2, n_postings, n_blocks]``
and varint block directory ``(first_doc_delta, max_tf, payload_nbytes)`` —
IDENTICAL to version 1, so :func:`codec.decode_directory` and every
block-max WAND skip decision work unchanged on either codec.  Only the
per-block payloads differ: instead of a varint stream they are NewPFD-style
patched frames —

    [0]    b_gap   bit width of the gap frame (0..32)
    [1]    b_tf    bit width of the tf frame  (0..32)
    [2:4]  n_exc_gap  uint16 LE
    [4:6]  n_exc_tf   uint16 LE
    packed gaps   ceil(bs * b_gap / 8) bytes, LSB-first bit packing
    packed tfs    ceil(bs * b_tf  / 8) bytes
    exceptions    one varint stream per block:
                  gap_positions[n_exc_gap], gap_highs[n_exc_gap],
                  tf_positions[n_exc_tf],  tf_highs[n_exc_tf]

Each value stores its low ``b`` bits in the frame; values that do not fit
("exceptions", the *patched* part of PForDelta) additionally store their
in-block position and overflow bits ``v >> b`` in the varint exception
stream.  ``b`` is chosen per block per family by minimizing estimated
bytes (frame bytes + ~3 bytes per exception), the classic NewPFD recipe
[Zhang, Long & Suel, WWW'08 — "Performance of compressed inverted list
caching in search engines"].  Positions are < block_size, so uint16 counts
and 1-byte varint positions always suffice.

Everything is NumPy-vectorized across ALL blocks of ALL terms at once —
encode packs every frame with five OR-reduceat passes (no per-block loop),
decode unpacks with five gathers straight out of the original buffer (the
frames are byte-addressable, so selective block decode needs no payload
concatenation at all, unlike the varint path).

The reference delegates this layer to Lucene's FOR/PFOR postings format
(OpenSearch single shard, reference: backend/search/mapping.json:3-7);
this module is the from-scratch Spark-side replacement.
"""

from __future__ import annotations

import numpy as np

from clinical_trial_searchengine_spark.functions.codec import (
    BLOCK_SIZE,
    _varint_nbytes,
    varint_decode,
    varint_decode_prefix,
    varint_encode,
)

VERSION_PFOR = 2
_MAX_B = 32          # frame widths 0..32; wider values become exceptions
_EXC_COST = 3        # ~bytes/exception (1 pos + ~2 high) for width choice


# ---------------------------------------------------------------------------
# shared segmented-index helpers
# ---------------------------------------------------------------------------


def _seg_positions(lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(owner, within) for the concatenation of ``lens[i]``-sized segments."""
    lens = np.asarray(lens, dtype=np.int64)
    owner = np.repeat(np.arange(lens.size), lens)
    starts = np.cumsum(lens) - lens
    within = np.arange(int(lens.sum()), dtype=np.int64) - starts[owner]
    return owner, within


def _seg_copy(out: np.ndarray, dst_starts: np.ndarray, src: np.ndarray,
              src_starts: np.ndarray, lens: np.ndarray) -> None:
    """out[dst_starts[i] : +lens[i]] = src[src_starts[i] : +lens[i]] ∀i."""
    owner, within = _seg_positions(lens)
    if owner.size:
        out[dst_starts[owner] + within] = src[src_starts[owner] + within]


def _seg_gather(src: np.ndarray, starts: np.ndarray,
                lens: np.ndarray) -> np.ndarray:
    owner, within = _seg_positions(lens)
    return src[starts[owner] + within]


# ---------------------------------------------------------------------------
# width selection + frame packing (one family = gaps or tfs)
# ---------------------------------------------------------------------------


def _approx_bit_widths(vals: np.ndarray) -> np.ndarray:
    """Per-value bit width, via float frexp — may overshoot by 1 near 2^k
    boundaries above 2^53, which only perturbs the SIZE ESTIMATE used for
    width selection; exception classification below is exact."""
    bw = np.zeros(vals.size, dtype=np.int64)
    nz = vals > 0
    if nz.any():
        bw[nz] = np.frexp(vals[nz].astype(np.float64))[1]
    return bw


def _choose_widths(bw: np.ndarray, block_start_rows: np.ndarray,
                   bs_arr: np.ndarray) -> np.ndarray:
    """argmin_b [ frame bytes + _EXC_COST * n_exceptions(b) ] per block."""
    n_blocks = block_start_rows.size
    # candidates above the corpus-wide max width only add frame bytes, and
    # values wider than _MAX_B are always exceptions — tiny candidate sets
    # in practice (gaps are a few bits on hot terms)
    cand_hi = min(_MAX_B, int(bw.max()) if bw.size else 0)
    costs = np.empty((cand_hi + 1, n_blocks), dtype=np.int64)
    for c in range(cand_hi + 1):
        n_exc = np.add.reduceat((bw > c).astype(np.int64), block_start_rows)
        costs[c] = ((bs_arr * c + 7) >> 3) + _EXC_COST * n_exc
    return np.argmin(costs, axis=0).astype(np.int64)


def _pack_family(vals: np.ndarray, b_blk: np.ndarray, blk_of_row: np.ndarray,
                 pos_in_block: np.ndarray):
    """Bit-pack every block's frame in 5 vectorized passes.

    Returns (packed uint8[total+pad is trimmed], pg_off int64[B] region
    starts inside `packed`, pg_len int64[B], exc_rows int64[..] global row
    indices of exceptions, exc_high uint64[..]).
    """
    b_row = b_blk[blk_of_row]
    mask_row = (np.uint64(1) << b_row.astype(np.uint64)) - np.uint64(1)
    exc_mask = vals > mask_row
    pv = vals & mask_row

    # block frame regions, laid out back-to-back
    # (bs per block recomputed from row ownership)
    bs_arr = np.bincount(blk_of_row, minlength=b_blk.size)
    pg_len = (bs_arr * b_blk + 7) >> 3
    ends = np.cumsum(pg_len)
    pg_off = ends - pg_len
    total = int(ends[-1]) if ends.size else 0

    o_bits = pos_in_block * b_row
    addr = pg_off[blk_of_row] + (o_bits >> 3)
    sh = (o_bits & 7).astype(np.uint64)
    word = pv << sh                                   # <= 39 bits
    packed = np.zeros(total + 8, dtype=np.uint8)      # +8: j-overrun pad
    # a value spans at most ceil((7 + b) / 8) bytes; typical widths are a
    # few bits, so this is 1-2 passes, not 5
    n_passes = int(7 + b_blk.max() + 7) >> 3 if b_blk.size else 0
    for j in range(n_passes):
        contrib = ((word >> np.uint64(8 * j)) & np.uint64(0xFF)).astype(
            np.uint8
        )
        idx = addr + j
        if idx.size:
            # idx is nondecreasing for fixed j (row order == frame order),
            # so duplicate bytes OR-merge with one reduceat, then a single
            # unique-index scatter-OR
            u = np.flatnonzero(
                np.concatenate(([True], idx[1:] != idx[:-1]))
            )
            packed[idx[u]] |= np.bitwise_or.reduceat(contrib, u)
    exc_rows = np.flatnonzero(exc_mask)
    exc_high = vals[exc_rows] >> b_row[exc_rows].astype(np.uint64)
    return packed[:total], pg_off, pg_len, exc_rows, exc_high


def _unpack_family(words: np.ndarray, region_start: np.ndarray,
                   b_blk: np.ndarray, blk: np.ndarray,
                   pos: np.ndarray) -> np.ndarray:
    """Gather-decode one family's frames for the given rows.

    ``words`` is a byte-strided (stride 1) uint64 view over the
    zero-padded buffer: one fancy-index gather pulls each row's 8
    containing bytes as a little-endian word (a single unaligned-load
    gather — measured ~2x the old (n, 8)-byte gather + view, which built
    an intermediate 2-D array first); bits past the slot are masked off
    (shift <= 7 + width <= 39 < 64, so 8 bytes always cover it).
    ``blk`` indexes into region_start/b_blk (block-local arrays).
    """
    o = pos * b_blk[blk]
    word = words[region_start[blk] + (o >> 3)]
    # per-BLOCK masks gathered per row (blocks are tiny next to rows —
    # one gather beats a million-element shift+subtract)
    mask_blk = (np.uint64(1) << b_blk.astype(np.uint64)) - np.uint64(1)
    return (word >> (o & 7).astype(np.uint64)) & mask_blk[blk]


# ---------------------------------------------------------------------------
# group encode (single-term encode is the T=1 special case)
# ---------------------------------------------------------------------------


def encode_postings_group_pfor(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    bounds: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> tuple[list[bytes], np.ndarray]:
    """PFor twin of :func:`codec.encode_postings_group` — encode MANY terms'
    posting lists in one vectorized pass; same contract."""
    assert block_size <= 0xFFFF, "uint16 exception counts cap block_size"
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    tfs = np.ascontiguousarray(tfs, dtype=np.uint64)
    bounds = np.asarray(bounds, dtype=np.int64)
    T = len(bounds) - 1
    n = doc_ids.size
    if n == 0:
        return [], np.zeros(0, dtype=np.int64)
    n_t = np.diff(bounds)
    assert (n_t > 0).all(), "empty term range"
    B_t = (n_t + block_size - 1) // block_size

    # ---- block skeleton (same derivation as the varint group encoder) ----
    term_of_row = np.repeat(np.arange(T), n_t)
    pos_in_term = np.arange(n) - np.repeat(bounds[:-1], n_t)
    b_in_term = pos_in_term // block_size
    pos_in_block = pos_in_term - b_in_term * block_size
    is_block_start = pos_in_block == 0
    block_start_rows = np.flatnonzero(is_block_start)
    blk_of_row = np.cumsum(is_block_start) - 1
    nB = block_start_rows.size
    term_of_block = term_of_row[block_start_rows]
    b_idx_in_term = b_in_term[block_start_rows]
    bs_arr = np.diff(np.append(block_start_rows, n))
    firsts = doc_ids[block_start_rows]
    first_deltas = firsts.copy()
    not_first = b_idx_in_term > 0
    first_deltas[not_first] = (
        firsts[not_first] - firsts[np.flatnonzero(not_first) - 1]
    )
    max_tfs = np.maximum.reduceat(tfs, block_start_rows)

    gaps = np.zeros(n, dtype=np.uint64)
    gaps[1:] = doc_ids[1:] - doc_ids[:-1]
    gaps[block_start_rows] = 0

    # ---- per-family width choice + frame packing -------------------------
    b_g = _choose_widths(_approx_bit_widths(gaps), block_start_rows, bs_arr)
    b_tf = _choose_widths(_approx_bit_widths(tfs), block_start_rows, bs_arr)
    packed_g, pg_src, pg_len, excr_g, exch_g = _pack_family(
        gaps, b_g, blk_of_row, pos_in_block
    )
    packed_t, pt_src, pt_len, excr_t, exch_t = _pack_family(
        tfs, b_tf, blk_of_row, pos_in_block
    )

    # ---- exception stream: per block [g_pos..., g_high..., t_pos...,
    # t_high...], varint-encoded globally then sliced per block ------------
    eb_g = blk_of_row[excr_g]
    eb_t = blk_of_row[excr_t]
    n_eg = np.bincount(eb_g, minlength=nB).astype(np.int64)
    n_et = np.bincount(eb_t, minlength=nB).astype(np.int64)
    assert (n_eg <= 0xFFFF).all() and (n_et <= 0xFFFF).all()
    counts = 2 * n_eg + 2 * n_et
    vb = np.append(np.cumsum(counts) - counts, int(counts.sum()))
    exc_vals = np.empty(int(counts.sum()), dtype=np.uint64)
    # exc rows come out in global row order == grouped by block, ascending
    # in-block positions — exactly the wire order
    w_g = np.arange(eb_g.size) - (np.cumsum(n_eg) - n_eg)[eb_g]
    w_t = np.arange(eb_t.size) - (np.cumsum(n_et) - n_et)[eb_t]
    exc_vals[vb[eb_g] + w_g] = pos_in_block[excr_g].astype(np.uint64)
    exc_vals[vb[eb_g] + n_eg[eb_g] + w_g] = exch_g
    exc_vals[vb[eb_t] + 2 * n_eg[eb_t] + w_t] = (
        pos_in_block[excr_t].astype(np.uint64)
    )
    exc_vals[vb[eb_t] + 2 * n_eg[eb_t] + n_et[eb_t] + w_t] = exch_t
    exc_blob = np.frombuffer(varint_encode(exc_vals), dtype=np.uint8)
    nbe = _varint_nbytes(exc_vals) if exc_vals.size else np.zeros(0, np.int64)
    ecum = np.concatenate(([0], np.cumsum(nbe)))
    exc_len = ecum[vb[1:]] - ecum[vb[:-1]]
    exc_src = ecum[vb[:-1]]

    payload_nbytes = 6 + pg_len + pt_len + exc_len

    # ---- header + directory varint blob ----------------------------------
    hd_per_term = 3 + 3 * B_t
    hd_off = np.concatenate(([0], np.cumsum(hd_per_term)))
    hd_vals = np.empty(int(hd_off[-1]), dtype=np.uint64)
    hd_vals[hd_off[:-1]] = VERSION_PFOR
    hd_vals[hd_off[:-1] + 1] = n_t.astype(np.uint64)
    hd_vals[hd_off[:-1] + 2] = B_t.astype(np.uint64)
    dir_pos = hd_off[term_of_block] + 3 + 3 * b_idx_in_term
    hd_vals[dir_pos] = first_deltas
    hd_vals[dir_pos + 1] = max_tfs
    hd_vals[dir_pos + 2] = payload_nbytes.astype(np.uint64)
    hd_blob = np.frombuffer(varint_encode(hd_vals), dtype=np.uint8)
    nbh = _varint_nbytes(hd_vals)
    hcum = np.concatenate(([0], np.cumsum(nbh)))
    hd_start_t = hcum[hd_off[:-1]]
    hd_len_t = hcum[hd_off[1:]] - hd_start_t

    # ---- assemble the final byte image, then slice per term --------------
    blk_bounds = np.concatenate(([0], np.cumsum(B_t)))
    pay_cum = np.concatenate(([0], np.cumsum(payload_nbytes)))
    pay_per_term = pay_cum[blk_bounds[1:]] - pay_cum[blk_bounds[:-1]]
    tot_t = hd_len_t + pay_per_term
    term_start = np.cumsum(tot_t) - tot_t
    blk_dst = (
        term_start[term_of_block] + hd_len_t[term_of_block]
        + (pay_cum[:-1] - pay_cum[blk_bounds[term_of_block]])
    )

    out = np.zeros(int(tot_t.sum()), dtype=np.uint8)
    _seg_copy(out, term_start, hd_blob, hd_start_t, hd_len_t)
    sub = np.empty((nB, 6), dtype=np.uint8)
    sub[:, 0] = b_g
    sub[:, 1] = b_tf
    sub[:, 2] = n_eg & 0xFF
    sub[:, 3] = n_eg >> 8
    sub[:, 4] = n_et & 0xFF
    sub[:, 5] = n_et >> 8
    out[(blk_dst[:, None] + np.arange(6)[None, :]).ravel()] = sub.ravel()
    _seg_copy(out, blk_dst + 6, packed_g, pg_src, pg_len)
    _seg_copy(out, blk_dst + 6 + pg_len, packed_t, pt_src, pt_len)
    _seg_copy(out, blk_dst + 6 + pg_len + pt_len, exc_blob, exc_src, exc_len)

    mv = memoryview(out.tobytes())
    term_end = term_start + tot_t
    return (
        [bytes(mv[int(s):int(e)]) for s, e in zip(term_start, term_end)],
        B_t.astype(np.int64),
    )


def encode_postings_pfor(
    doc_ids: np.ndarray, tfs: np.ndarray, block_size: int = BLOCK_SIZE
) -> tuple[bytes, int]:
    """Single-term PFor encode (T=1 case of the group encoder)."""
    n = np.asarray(doc_ids).size
    if n == 0:
        return (
            varint_encode(np.array([VERSION_PFOR, 0, 0], dtype=np.uint64)),
            0,
        )
    bufs, n_blocks = encode_postings_group_pfor(
        doc_ids, tfs, np.array([0, n], dtype=np.int64), block_size
    )
    return bufs[0], int(n_blocks[0])


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _varint_decode_count(buf_np: np.ndarray, count: int,
                         offset: int) -> tuple[np.ndarray, int]:
    """Vectorized decode of exactly ``count`` varints starting at ``offset``
    of a buffer whose remainder is NOT varint data.  Scans at most
    10*count bytes.  Returns (vals uint64[count], end_offset)."""
    if count == 0:
        return np.empty(0, dtype=np.uint64), offset
    window = buf_np[offset : offset + 10 * count]
    last_pos = np.flatnonzero((window & 0x80) == 0)
    end_rel = int(last_pos[count - 1]) + 1
    vals = varint_decode(window[:end_rel].tobytes())
    return vals[:count], offset + end_rel


def _parse_layout(buf_np: np.ndarray, poff: np.ndarray, nb: np.ndarray,
                  bs: np.ndarray):
    """Per-block subheaders + region offsets for blocks whose payloads
    start at absolute byte offsets ``poff`` (``nb`` bytes, ``bs``
    postings each).

    Returns (b_g, b_tf, n_eg, n_et, pg_start, pt_start, exc_start,
    exc_len), each indexed by block position."""
    b_g = buf_np[poff].astype(np.int64)
    b_tf = buf_np[poff + 1].astype(np.int64)
    n_eg = buf_np[poff + 2].astype(np.int64) | (
        buf_np[poff + 3].astype(np.int64) << 8
    )
    n_et = buf_np[poff + 4].astype(np.int64) | (
        buf_np[poff + 5].astype(np.int64) << 8
    )
    pg_len = (bs * b_g + 7) >> 3
    pt_len = (bs * b_tf + 7) >> 3
    pg_start = poff + 6
    pt_start = pg_start + pg_len
    exc_start = pt_start + pt_len
    exc_len = nb - 6 - pg_len - pt_len
    return b_g, b_tf, n_eg, n_et, pg_start, pt_start, exc_start, exc_len


def _apply_exceptions(vals_g: np.ndarray, vals_t: np.ndarray,
                      buf_np: np.ndarray, exc_start: np.ndarray,
                      exc_len: np.ndarray, n_eg: np.ndarray,
                      n_et: np.ndarray, b_g: np.ndarray, b_tf: np.ndarray,
                      out_row_start: np.ndarray) -> None:
    """Patch the unpacked frames in place with the overflow bits."""
    if not int(exc_len.sum()):
        return
    ev = varint_decode(_seg_gather(buf_np, exc_start, exc_len).tobytes())
    counts = 2 * n_eg + 2 * n_et
    vb = np.cumsum(counts) - counts
    for n_e, base_extra, b_fam, vals in (
        (n_eg, 0, b_g, vals_g),
        (n_et, None, b_tf, vals_t),
    ):
        owner, within = _seg_positions(n_e)
        if not owner.size:
            continue
        extra = 2 * n_eg[owner] if base_extra is None else 0
        pos = ev[vb[owner] + extra + within].astype(np.int64)
        high = ev[vb[owner] + extra + n_e[owner] + within]
        rows = out_row_start[owner] + pos
        vals[rows] |= high << b_fam[owner].astype(np.uint64)


def decode_postings_pfor(buf: bytes, block_size: int = BLOCK_SIZE):
    """Full decode of a version-2 buffer; same contract as
    :func:`codec.decode_postings`."""
    buf_np = np.frombuffer(buf, dtype=np.uint8)
    (version, n, n_blocks), off = varint_decode_prefix(buf, 3)
    assert version == VERSION_PFOR, f"bad pfor version {version}"
    if n == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    dir_vals, dir_end = _varint_decode_count(buf_np, 3 * n_blocks, off)
    dv = dir_vals.reshape(-1, 3)
    firsts = np.cumsum(dv[:, 0])
    nbytes = dv[:, 2].astype(np.int64)
    offsets = dir_end + np.cumsum(nbytes) - nbytes
    return _decode_selected(
        buf_np, np.arange(n_blocks, dtype=np.int64), n, firsts, nbytes,
        offsets, block_size,
    )


def decode_blocks_pfor(
    buf: bytes,
    idxs,
    n: int,
    firsts: np.ndarray,
    nbytes: np.ndarray,
    offsets: np.ndarray,
    block_size: int = BLOCK_SIZE,
):
    """Selective-decode twin of :func:`codec.decode_blocks` for version 2.

    Directory arrays come from :func:`codec.decode_directory` (shared wire
    layout).  Frames are byte-addressable, so this gathers bits straight
    from ``buf`` at absolute addresses — no payload concatenation."""
    idxs = np.asarray(list(idxs), dtype=np.int64)
    if idxs.size == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    buf_np = np.frombuffer(buf, dtype=np.uint8)
    return _decode_selected(
        buf_np, idxs, n, np.asarray(firsts, dtype=np.uint64),
        np.asarray(nbytes, dtype=np.int64),
        np.asarray(offsets, dtype=np.int64), block_size,
    )


def _decode_selected(buf_np: np.ndarray, idxs: np.ndarray, n: int,
                     firsts: np.ndarray, nbytes: np.ndarray,
                     offsets: np.ndarray, block_size: int):
    bs = np.minimum(block_size, n - idxs * block_size)
    gaps, tfs = decode_frames(
        buf_np, offsets[idxs].astype(np.int64),
        nbytes[idxs].astype(np.int64), bs,
    )
    owner, _ = _seg_positions(bs)
    row_start = np.cumsum(bs) - bs
    # segmented cumsum: gap at each block start is 0 by convention
    c = np.cumsum(gaps)
    doc_ids = (
        np.asarray(firsts, dtype=np.uint64)[idxs][owner]
        + (c - c[row_start][owner])
    ).astype(np.uint64)
    return doc_ids, tfs.astype(np.int64)


def decode_frames(buf_np: np.ndarray, poff: np.ndarray, nb: np.ndarray,
                  bs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(gaps, tfs) uint64 of the blocks whose frames start at absolute
    byte offsets ``poff`` of ``buf_np`` (``nb`` payload bytes and ``bs``
    postings each), concatenated in block order.  The blocks may belong to
    different posting lists: :func:`codec.decode_postings_group` passes
    every version-2 block of a whole buffer group at once."""
    b_g, b_tf, n_eg, n_et, pg_start, pt_start, exc_start, exc_len = (
        _parse_layout(buf_np, poff, nb, bs)
    )
    owner, pos = _seg_positions(bs)
    buf_pad = np.concatenate((buf_np, np.zeros(8, dtype=np.uint8)))
    # unaligned little-endian u64 view at every byte offset (stride 1)
    words = np.ndarray(
        (buf_pad.size - 7,), dtype=np.uint64, buffer=buf_pad.data,
        strides=(1,),
    )
    gaps = _unpack_family(words, pg_start, b_g, owner, pos)
    tfs = _unpack_family(words, pt_start, b_tf, owner, pos)
    _apply_exceptions(
        gaps, tfs, buf_np, exc_start, exc_len, n_eg, n_et, b_g, b_tf,
        np.cumsum(bs) - bs,
    )
    return gaps, tfs

"""Posting-block codec: delta-gap + varint (LEB128) packing, numpy-vectorized.

The reference delegates posting-list compression to bleve's scorch engine
(RoaringBitmap posting lists, /root/reference/go.mod:4) and uses flate for
its sidecar store (/root/reference/internal/utils/data.go:38-90).  Our
engine's mandated layout (BASELINE.json north_rule) is delta-gap + varint
block compression with per-block max-score metadata; this module is that
codec.  Blocks hold three parallel integer arrays per run of postings:

    doc_ids (sorted, delta-gapped), tfs, doc_lens

plus, in a positions index, each posting's token positions (delta-gapped
per posting) and each document's token-offset sidecar (char starts
delta-gapped, token lengths).  This module is the only one that knows
these formats and their CRC32s: the build, the purge, the query fetchers
and ``verify_index`` all encode, decode and check through it.

Encoding/decoding is fully vectorized (no per-element Python loops: the
LEB128 byte expansion loops over the ≤10 *byte positions*, not over values),
so it runs at memory bandwidth inside Arrow UDFs.
"""

from __future__ import annotations

import zlib

import numpy as np

BLOCK_SIZE = 128  # postings per block


def varint_encode_with_offsets(values: np.ndarray):
    """LEB128-encode a uint64 array; also return the byte offset of each
    value (length n+1) so callers can slice the buffer into sub-runs without
    re-encoding (pack_run encodes each term run once and slices blocks)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(1, dtype=np.int64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    starts = offsets[:-1]
    shifted = v.copy()
    remaining = nbytes.copy()
    pos = 0
    while (remaining > 0).any():
        active = remaining > 0
        idx = starts[active] + pos
        byte = (shifted[active] & np.uint64(0x7F)).astype(np.uint8)
        cont = (remaining[active] > 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        shifted[active] >>= np.uint64(7)
        remaining[active] -= 1
        pos += 1
    return out.tobytes(), offsets


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array."""
    return varint_encode_with_offsets(values)[0]


def varint_decode(buf: bytes, count: int) -> np.ndarray:
    """Decode `count` LEB128 values from buf -> uint64 array. Vectorized."""
    if count == 0:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_last = (raw & 0x80) == 0
    # index of the first byte of each value = 0 and positions after each last
    ends = np.flatnonzero(is_last)
    if ends.size < count:
        raise ValueError(f"varint buffer truncated: {ends.size} < {count}")
    ends = ends[:count]
    starts = np.concatenate(([0], ends[:-1] + 1))
    out = np.zeros(count, dtype=np.uint64)
    nbytes = ends - starts + 1
    maxb = int(nbytes.max())
    for b in range(maxb):
        active = nbytes > b
        idx = starts[active] + b
        out[active] |= (raw[idx] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * b)
    return out


def delta_encode(values: np.ndarray, bases=None) -> np.ndarray:
    """int64 values -> gaps, with the value kept absolute at index 0 and at
    every index in ``bases`` (an index array or mask: the first doc id of
    each block, the first position of each posting), so each run between
    bases decodes on its own."""
    a = np.asarray(values, dtype=np.int64)
    out = np.empty_like(a)
    if a.size:
        out[0] = a[0]
        np.subtract(a[1:], a[:-1], out=out[1:])
        if bases is not None:
            out[bases] = a[bases]
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(gaps, dtype=np.int64))


def pack_run(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray):
    """Split one term's sorted posting run into packed blocks.

    Yields (block_id, n, doc_ids_bin, tfs_bin, dls_bin, min_doc_id,
    max_doc_id, max_tf, min_dl) tuples.  max_tf/min_dl give a lossless
    BM25 upper bound for the block:
        ub = idf * (k1+1) * max_tf / (max_tf + K(min_dl))
    since tf-normalization is increasing in tf and decreasing in dl.

    The whole run is varint-encoded once (three buffers) and blocks are
    byte slices: each block's first doc id is stored absolute (the gap at
    block starts is replaced pre-encoding) so blocks stay independently
    decodable.
    """
    n = doc_ids.size
    gaps = delta_encode(doc_ids, np.arange(0, n, BLOCK_SIZE))
    id_buf, id_off = varint_encode_with_offsets(gaps.astype(np.uint64))
    tf_buf, tf_off = varint_encode_with_offsets(np.asarray(tfs, dtype=np.uint64))
    dl_buf, dl_off = varint_encode_with_offsets(np.asarray(dls, dtype=np.uint64))
    for b, start in enumerate(range(0, n, BLOCK_SIZE)):
        end = min(start + BLOCK_SIZE, n)
        t = tfs[start:end]
        d = dls[start:end]
        yield (
            b,
            int(end - start),
            id_buf[id_off[start]:id_off[end]],
            tf_buf[tf_off[start]:tf_off[end]],
            dl_buf[dl_off[start]:dl_off[end]],
            int(doc_ids[start]),
            int(doc_ids[end - 1]),
            int(t.max()),
            int(d.min()),
        )


def block_crc(ib: bytes, tb: bytes, db: bytes) -> int:
    """A block's stored ``crc32``: the xor of its three payloads' CRC32s."""
    return zlib.crc32(ib) ^ zlib.crc32(tb) ^ zlib.crc32(db)


def positions_crc(pb: bytes) -> int:
    """A block's stored ``pos_crc32``: the CRC32 of its positions payload."""
    return zlib.crc32(pb)


def pack_block(ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
               positions: np.ndarray | None = None) -> dict:
    """The payload and metadata columns of one block of sorted postings —
    what the purge re-packs a block to after dropping deleted ids.
    ``positions``: every posting's token positions, concatenated (tf
    each); without them ``pos_bin``/``pos_crc32`` are None."""
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    ib = varint_encode(delta_encode(ids).astype(np.uint64))
    tb = varint_encode(tfs.astype(np.uint64))
    db = varint_encode(dls.astype(np.uint64))
    pb = pcrc = None
    if positions is not None:
        first = np.zeros(tfs.size, dtype=np.int64)  # each posting's base
        np.cumsum(tfs[:-1], out=first[1:])
        pb = varint_encode(delta_encode(positions, first).astype(np.uint64))
        pcrc = positions_crc(pb)
    return {
        "n": int(tfs.size),
        "doc_ids_bin": ib, "tfs_bin": tb, "dls_bin": db,
        "min_doc_id": int(ids[0]), "max_doc_id": int(ids[-1]),
        "max_tf": int(tfs.max()), "min_dl": int(dls.min()),
        "sum_tf": int(tfs.sum()),
        "n_bytes": len(ib) + len(tb) + len(db) + (len(pb) if pb else 0),
        "crc32": block_crc(ib, tb, db),
        "pos_bin": pb, "pos_crc32": pcrc,
    }


def _offsets_crc(s_bin: bytes, l_bin: bytes) -> int:
    return zlib.crc32(s_bin) ^ zlib.crc32(l_bin)


def pack_offsets(starts: np.ndarray, ends: np.ndarray):
    """One doc's token-offset sidecar: (tok_starts_bin, tok_lens_bin,
    offs_crc32) — the char start of every token delta-gapped, its length,
    and the xor of the two payloads' CRC32s."""
    starts = np.asarray(starts, dtype=np.int64)
    s_bin = varint_encode(delta_encode(starts).astype(np.uint64))
    l_bin = varint_encode((np.asarray(ends, dtype=np.int64) - starts)
                          .astype(np.uint64))
    return s_bin, l_bin, _offsets_crc(s_bin, l_bin)


def unpack_offsets(n: int, s_bin: bytes, l_bin: bytes, crc: int):
    """Inverse of pack_offsets for a doc of ``n`` tokens -> (starts, ends)
    int64 char offsets; raises IOError when the stored CRC does not match."""
    if _offsets_crc(s_bin, l_bin) != crc:
        raise IOError("token-offset sidecar CRC mismatch")
    starts = np.cumsum(varint_decode(s_bin, n).astype(np.int64))
    return starts, starts + varint_decode(l_bin, n).astype(np.int64)


def crc_mismatches(pdf) -> int:
    """How many stored payloads of a fetched frame fail their CRC: each
    posting block (``crc32``), each block's positions where the frame
    carries ``pos_crc32`` (a block stored without positions is skipped),
    and each doc's token-offset sidecar where it carries ``offs_crc32`` (a
    missing sidecar counts as a failure)."""
    bad = 0
    if "crc32" in pdf.columns:
        bad += sum(block_crc(ib, tb, db) != crc for ib, tb, db, crc in zip(
            pdf["doc_ids_bin"], pdf["tfs_bin"], pdf["dls_bin"], pdf["crc32"]))
    if "pos_crc32" in pdf.columns:
        bad += sum(pb is not None and positions_crc(pb) != crc
                   for pb, crc in zip(pdf["pos_bin"], pdf["pos_crc32"]))
    if "offs_crc32" in pdf.columns:
        bad += sum(sb is None or _offsets_crc(sb, lb) != crc
                   for sb, lb, crc in zip(pdf["tok_starts_bin"],
                                          pdf["tok_lens_bin"],
                                          pdf["offs_crc32"]))
    return int(bad)


def unpack_block(n: int, doc_ids_bin: bytes, tfs_bin: bytes, dls_bin: bytes):
    """Inverse of pack_run for one block -> (doc_ids, tfs, dls) int64/float."""
    ids = delta_decode(varint_decode(doc_ids_bin, n).astype(np.int64))
    tfs = varint_decode(tfs_bin, n).astype(np.int64)
    dls = varint_decode(dls_bin, n).astype(np.int64)
    return ids, tfs, dls


def unpack_blocks_batch(ns, doc_ids_bins, tfs_bins, dls_bins):
    """Decode MANY blocks in one vectorized pass -> (ids, tfs, dls) big
    arrays (block payloads concatenated in input order).

    LEB128 streams concatenate losslessly (continuation bits delimit
    values), so the three buffers are joined and decoded once — per-block
    decode pays fixed numpy call overhead on ~128-value arrays, which
    dominates the query-side hot loop.  Delta decoding is segmented: every
    block's first stored id is absolute (pack's block-local base), so
    ids = running-cumsum with a per-block rebase.
    """
    ns = np.asarray(ns, dtype=np.int64)
    total = int(ns.sum())
    if total == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    gaps = varint_decode(b"".join(doc_ids_bins), total).astype(np.int64)
    tfs = varint_decode(b"".join(tfs_bins), total).astype(np.int64)
    dls = varint_decode(b"".join(dls_bins), total).astype(np.int64)
    starts = np.zeros(ns.size, dtype=np.int64)
    np.cumsum(ns[:-1], out=starts[1:])
    cs = np.cumsum(gaps)
    base = cs[starts] - gaps[starts]  # cumsum carried in from prior blocks
    ids = cs - np.repeat(base, ns)
    return ids, tfs, dls


def unpack_positions_batch(counts, pos_bins):
    """Decode packed term positions for many postings in one pass.

    ``counts``: int64 array — positions per posting (== each posting's tf),
    concatenated across blocks in input order; ``pos_bins``: the blocks'
    ``pos_bin`` payloads in the same order.  Positions are delta-gapped with
    an absolute base per POSTING (each doc's position list restarts), so the
    decode is the same segmented-cumsum rebase as doc ids — resets at
    posting boundaries instead of block boundaries.  Returns one flat int64
    array; slice it with ``np.cumsum(counts)``.
    """
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    gaps = varint_decode(b"".join(pos_bins), total).astype(np.int64)
    keep = counts > 0  # tf is >= 1 in practice, but stay total
    starts = np.zeros(int(keep.sum()), dtype=np.int64)
    np.cumsum(counts[keep][:-1], out=starts[1:])
    cs = np.cumsum(gaps)
    base = cs[starts] - gaps[starts]
    return cs - np.repeat(base, counts[keep])

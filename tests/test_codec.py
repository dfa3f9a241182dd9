"""Posting-block codec properties (mirrors the reference's round-trip test
strategy, /root/reference/internal/utils/data_test.go:12-46)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pysearch import codec


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    buf = codec.varint_encode(arr)
    out = codec.varint_decode(buf, len(values))
    assert (out == arr).all()


def test_varint_sizes():
    assert codec.varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert codec.varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert codec.varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert codec.varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500, unique=True))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.sort(np.array(ids, dtype=np.int64))
    gaps = codec.delta_encode(arr)
    assert (codec.delta_decode(gaps) == arr).all()
    assert (gaps[1:] > 0).all()


def test_pack_unpack_blocks():
    rng = np.random.RandomState(7)
    n = 1000
    ids = np.sort(rng.choice(10_000_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.randint(1, 50, size=n).astype(np.int64)
    dls = rng.randint(10, 5000, size=n).astype(np.int64)
    blocks = list(codec.pack_run(ids, tfs, dls))
    assert len(blocks) == int(np.ceil(n / codec.BLOCK_SIZE))
    got_ids, got_tfs, got_dls = [], [], []
    for (b, cnt, ib, tb, db, mn, mx, mtf, mdl) in blocks:
        i2, t2, d2 = codec.unpack_block(cnt, ib, tb, db)
        assert i2[0] == mn and i2[-1] == mx
        assert t2.max() == mtf and d2.min() == mdl
        got_ids.append(i2)
        got_tfs.append(t2)
        got_dls.append(d2)
    assert (np.concatenate(got_ids) == ids).all()
    assert (np.concatenate(got_tfs) == tfs).all()
    assert (np.concatenate(got_dls) == dls).all()


def test_compression_is_compact():
    # dense doc ids (gap 1-3) should pack to ~1 byte each
    ids = np.cumsum(np.random.RandomState(0).randint(1, 4, size=1000)).astype(np.int64)
    buf = codec.varint_encode(codec.delta_encode(ids).astype(np.uint64))
    assert len(buf) <= 1100


def test_unpack_blocks_batch_matches_per_block():
    """Batched decode == per-block decode for many mixed-size runs."""
    import numpy as np

    from pysearch import codec

    rng = np.random.RandomState(7)
    blocks = []
    for run in range(20):
        n = int(rng.randint(1, 400))
        ids = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
        tfs = rng.randint(1, 50, size=n).astype(np.int64)
        dls = rng.randint(10, 5000, size=n).astype(np.int64)
        for (b, cnt, ib, tfb, dlb, *_rest) in codec.pack_run(ids, tfs, dls):
            blocks.append((cnt, ib, tfb, dlb))
    want_i, want_t, want_d = [], [], []
    for cnt, ib, tfb, dlb in blocks:
        i, t, d = codec.unpack_block(cnt, ib, tfb, dlb)
        want_i.append(i); want_t.append(t); want_d.append(d)
    gi, gt, gd = codec.unpack_blocks_batch(
        [b[0] for b in blocks], [b[1] for b in blocks],
        [b[2] for b in blocks], [b[3] for b in blocks])
    assert (np.concatenate(want_i) == gi).all()
    assert (np.concatenate(want_t) == gt).all()
    assert (np.concatenate(want_d) == gd).all()
    # empty input
    e = codec.unpack_blocks_batch([], [], [], [])
    assert all(x.size == 0 for x in e)


@given(st.lists(st.integers(min_value=-2**40, max_value=2**40), max_size=300),
       st.lists(st.integers(min_value=0, max_value=299), max_size=20))
@settings(max_examples=200, deadline=None)
def test_delta_encode_bases_invert_blockwise(values, bases):
    """Every run between two bases decodes on its own: its gaps' cumsum
    is the run's values."""
    v = np.array(values, dtype=np.int64)
    b = np.array(sorted({i for i in bases if i < v.size}), dtype=np.int64)
    gaps = codec.delta_encode(v, b)
    cuts = sorted({0, *b.tolist()})
    for s, e in zip(cuts, cuts[1:] + [v.size]):
        assert (np.cumsum(gaps[s:e]) == v[s:e]).all()


def _random_block(rng, n):
    ids = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
    tfs = rng.randint(1, 9, size=n).astype(np.int64)
    dls = rng.randint(10, 500, size=n).astype(np.int64)
    pos = np.concatenate([np.sort(rng.choice(500, size=t, replace=False))
                          for t in tfs]).astype(np.int64)
    return ids, tfs, dls, pos


def test_pack_block_matches_pack_run():
    """pack_block (the purge's re-pack) writes the same payloads and
    metadata as pack_run for a run of at most one block, CRCs that
    crc_mismatches accepts, and positions that unpack_positions_batch
    reads back."""
    import pandas as pd

    rng = np.random.RandomState(3)
    for n in (1, 2, 77, codec.BLOCK_SIZE):
        ids, tfs, dls, pos = _random_block(rng, n)
        [(_b, cnt, ib, tb, db, mn, mx, mtf, mdl)] = list(
            codec.pack_run(ids, tfs, dls))
        blk = codec.pack_block(ids, tfs, dls, pos)
        assert (blk["n"], blk["doc_ids_bin"], blk["tfs_bin"], blk["dls_bin"],
                blk["min_doc_id"], blk["max_doc_id"], blk["max_tf"],
                blk["min_dl"]) == (cnt, ib, tb, db, mn, mx, mtf, mdl)
        assert blk["sum_tf"] == int(tfs.sum())
        assert blk["n_bytes"] == len(ib) + len(tb) + len(db) + len(
            blk["pos_bin"])
        assert blk["crc32"] == codec.block_crc(ib, tb, db)
        assert (codec.unpack_positions_batch(tfs, [blk["pos_bin"]])
                == pos).all()
        assert codec.crc_mismatches(pd.DataFrame([blk])) == 0
        flipped = dict(blk, crc32=blk["crc32"] ^ 1,
                       pos_crc32=blk["pos_crc32"] ^ 1)
        assert codec.crc_mismatches(pd.DataFrame([flipped])) == 2
        bare = codec.pack_block(ids, tfs, dls)
        assert bare["pos_bin"] is None and bare["pos_crc32"] is None
        assert bare["crc32"] == blk["crc32"]
        assert codec.crc_mismatches(pd.DataFrame([bare])) == 0


def test_pack_offsets_roundtrip():
    """The token-offset sidecar round-trips, an empty doc packs to empty
    payloads, and a stored CRC that does not match raises."""
    import pandas as pd
    import pytest

    starts = np.array([0, 4, 9, 9, 30], dtype=np.int64)
    ends = np.array([3, 8, 9, 15, 41], dtype=np.int64)
    s_bin, l_bin, crc = codec.pack_offsets(starts, ends)
    got_s, got_e = codec.unpack_offsets(starts.size, s_bin, l_bin, crc)
    assert (got_s == starts).all() and (got_e == ends).all()
    assert codec.pack_offsets([], []) == (b"", b"", 0)
    with pytest.raises(IOError, match="CRC mismatch"):
        codec.unpack_offsets(starts.size, s_bin, l_bin, crc ^ 1)
    docs = pd.DataFrame({"tok_starts_bin": [s_bin, s_bin, None],
                         "tok_lens_bin": [l_bin, l_bin, None],
                         "offs_crc32": [crc, crc ^ 1, 0]})
    assert codec.crc_mismatches(docs) == 2  # the flipped CRC, the missing one


def test_block_builder_declares_no_eval_type():
    """The build's applyInPandas function carries no type hints, so
    PySpark does not try (and fail, with a warning on every build) to
    infer its eval type from them."""
    from pyspark.sql.pandas.typehints import (
        infer_group_pandas_eval_type_from_func)

    from pysearch.build import _make_block_builder

    assert infer_group_pandas_eval_type_from_func(
        _make_block_builder(64)) is None

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bleve_spark import codec


def test_varint_roundtrip_basic():
    for arr in (
        [0],
        [1, 5, 127, 128, 300, 2**31, 2**40, 2**63 - 1],
        list(range(0, 5000, 7)),
    ):
        a = np.array(arr, dtype=np.uint64)
        assert (codec.varint_decode(codec.varint_encode(a)) == a).all()


def test_empty():
    assert codec.varint_encode(np.array([], dtype=np.uint64)) == b""
    assert len(codec.varint_decode(b"")) == 0
    assert codec.encode_positions([]) == b""


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=200))
def test_varint_roundtrip_prop(vals):
    a = np.array(vals, dtype=np.uint64)
    assert (codec.varint_decode(codec.varint_encode(a)) == a).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300
    )
)
def test_delta_roundtrip_prop(vals):
    a = np.unique(np.array(vals, dtype=np.uint64))
    assert (codec.delta_decode(codec.delta_encode(a)) == a).all()


def test_positions_roundtrip():
    pls = [[1, 5, 9], [2], [], [3, 4, 5, 6, 1000]]
    dec = codec.decode_positions(codec.encode_positions(pls), len(pls))
    assert [list(map(int, x)) for x in dec] == pls


def _positions(docids, tfs):
    """Ascending position lists for one block's docs, tf of them per
    doc: a position stream's npos header is its posting's tf."""
    return [
        list(range(int(d) % 5, int(d) % 5 + 3 * int(tf), 3))
        for d, tf in zip(docids, tfs)
    ]


def _blocks_frame(blocks):
    """Build the postings-scan pandas frame for a list of
    (docids, tfs, lens) uint64-array triples."""
    import pandas as pd

    return pd.DataFrame(
        {
            "field": ["content"] * len(blocks),
            "term": [f"t{i}" for i in range(len(blocks))],
            "docids_enc": [codec.delta_encode(d) for d, _, _ in blocks],
            "tfs_enc": [codec.varint_encode(t) for _, t, _ in blocks],
            "lens_enc": [codec.varint_encode(le) for _, _, le in blocks],
            "pos_enc": [
                codec.encode_positions(_positions(d, t)) for d, t, _ in blocks
            ],
        }
    )


def _assert_batched_matches_loop(blocks):
    from bleve_spark.index import _decode_batch

    frame = _blocks_frame(blocks)
    exp_docid = np.concatenate(
        [d.astype(np.int64) for d, _, _ in blocks]
    )
    exp_tf = np.concatenate([t for _, t, _ in blocks]).astype(np.int32)
    exp_len = np.concatenate([le for _, _, le in blocks]).astype(np.int32)
    exp_term = np.concatenate(
        [np.repeat(f"t{i}", len(d)) for i, (d, _, _) in enumerate(blocks)]
    )
    for with_positions in (False, True):
        src = frame if with_positions else frame.drop(columns="pos_enc")
        out, positions = _decode_batch(src)
        assert (out["docid"].to_numpy() == exp_docid).all()
        assert (out["tf"].to_numpy() == exp_tf).all()
        assert (out["length"].to_numpy() == exp_len).all()
        assert (out["term"].to_numpy() == exp_term).all()
        assert (positions is not None) == with_positions
    # the batch's flat positions equal the concatenation of a per-block
    # decode of each pos_enc
    exp_pos = [
        p
        for (d, _, _), enc in zip(blocks, frame["pos_enc"])
        for p in codec.decode_positions(enc, len(d))
    ]
    assert positions.dtype == np.int64
    assert positions.tolist() == np.concatenate(exp_pos).tolist()


def test_batched_block_decode_rejects_header_tf_mismatch():
    """A position stream whose npos header disagrees with its posting's
    tf is corrupt: the batch decode raises instead of misaligning every
    later posting's positions."""
    from bleve_spark.index import _decode_batch

    d = np.array([5, 9, 12], dtype=np.uint64)
    tfs = np.array([2, 1, 1], dtype=np.uint64)
    frame = _blocks_frame([(d, tfs, np.ones(3, dtype=np.uint64))])
    assert len(_decode_batch(frame)[1]) == 4
    # as many values as the tfs imply, but the headers say 1, 2, 1
    frame["pos_enc"] = [codec.encode_positions([[1], [3, 7], [2]])]
    with pytest.raises(ValueError, match="corrupt posting batch"):
        _decode_batch(frame)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=2**63 - 1),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=40,
    )
)
def test_batched_block_decode_prop(raw):
    """The batch-vectorized scoring decode (one varint pass per stream
    across every block) must agree with per-block decoding, including
    63-bit docids whose global gap cumsum wraps uint64."""
    rng = np.random.default_rng(0)
    blocks = []
    for vals in raw:
        d = np.unique(np.array(vals, dtype=np.uint64))
        n = len(d)
        blocks.append(
            (
                d,
                rng.integers(1, 1000, size=n).astype(np.uint64),
                rng.integers(1, 10**6, size=n).astype(np.uint64),
            )
        )
    _assert_batched_matches_loop(blocks)


def test_batched_block_decode_wraparound():
    """Many max-range docids force the concatenated gap cumsum past
    2^64; mod-2^64 subtraction must still recover exact docids."""
    big = np.array([2**63 - 2, 2**63 - 1], dtype=np.uint64)
    one = np.array([1], dtype=np.uint64)
    blocks = []
    for i in range(16):
        d = big if i % 2 == 0 else one
        n = len(d)
        blocks.append(
            (d, np.ones(n, dtype=np.uint64), np.ones(n, dtype=np.uint64))
        )
    _assert_batched_matches_loop(blocks)


def test_batched_block_decode_singleton_and_large_mix():
    rng = np.random.default_rng(3)
    blocks = []
    for i in range(200):
        n = 1 if i % 3 else 128
        d = np.unique(
            rng.integers(0, 2**40, size=n, dtype=np.uint64)
        )
        m = len(d)
        blocks.append(
            (
                d,
                rng.integers(1, 50, size=m).astype(np.uint64),
                rng.integers(1, 9000, size=m).astype(np.uint64),
            )
        )
    _assert_batched_matches_loop(blocks)

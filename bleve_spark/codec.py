"""Posting-block compression: delta-encoded docid gaps + LEB128 varints.

Mirrors the role of zapx's posting encoding in the reference engine
(/root/reference/index/scorch/segment_plugin.go; format external per go.mod),
re-done numpy-vectorized so encode/decode run inside Arrow-batched pandas
UDFs with no per-row Python dispatch.

Layout per posting block (one row of the `postings` table):
  docids  : varint stream [d0, d1-d0, d2-d1, ...]   (docids sorted ascending)
  tfs     : varint stream [tf0, tf1, ...]
  positions: varint stream, per doc: [npos, p0, p1-p0, p2-p1, ...]
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_SHIFT7 = _U64(7)
_MASK7 = _U64(0x7F)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints, vectorized."""
    return varint_encode_with_sizes(values)[0]


def varint_encode_with_sizes(values: np.ndarray) -> tuple:
    """LEB128-encode and also return per-value byte counts, so callers can
    slice the buffer into sub-streams without re-encoding (used to carve
    one batch-level encode into per-(doc,term) position streams)."""
    v = np.asarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    for shift in (7, 14, 21, 28, 35, 42, 49, 56, 63):
        nbytes += (v >= (_U64(1) << _U64(shift))).astype(np.int64)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    cur = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    rem = v.copy()
    active = np.arange(n)
    while len(active):
        r = rem[active]
        more = r >= _U64(0x80)
        out[cur[active]] = (r & _MASK7).astype(np.uint8) | (
            more.astype(np.uint8) << 7
        )
        cur[active] += 1
        rem[active] = r >> _SHIFT7
        active = active[more]
    return out.tobytes(), nbytes


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 stream back to a uint64 array, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.flatnonzero(b < 0x80)
    starts = np.concatenate(([0], ends[:-1] + 1))
    vals = (b[starts] & 0x7F).astype(np.uint64)
    # the few values longer than one byte add their later bytes
    at = np.flatnonzero(ends > starts)
    j = 1
    while len(at):
        vals[at] |= (b[starts[at] + j].astype(np.uint64) & _MASK7) << _U64(7 * j)
        j += 1
        at = at[ends[at] >= starts[at] + j]
    return vals


def delta_encode(sorted_vals: np.ndarray) -> bytes:
    """Delta-gap + varint encode a sorted ascending array."""
    v = np.asarray(sorted_vals, dtype=np.uint64)
    if len(v) == 0:
        return b""
    gaps = np.empty_like(v)
    gaps[0] = v[0]
    np.subtract(v[1:], v[:-1], out=gaps[1:])
    return varint_encode(gaps)


def delta_decode(buf: bytes) -> np.ndarray:
    gaps = varint_decode(buf)
    return np.cumsum(gaps, dtype=np.uint64)


def encode_positions(pos_lists: list) -> bytes:
    """Per-doc positions: [npos, p0, gaps...] concatenated, varint-packed."""
    chunks = []
    for pl in pos_lists:
        p = np.asarray(pl, dtype=np.uint64)
        row = np.empty(len(p) + 1, dtype=np.uint64)
        row[0] = len(p)
        if len(p):
            row[1] = p[0]
            np.subtract(p[1:], p[:-1], out=row[2:])
        chunks.append(row)
    if not chunks:
        return b""
    return varint_encode(np.concatenate(chunks))


def decode_positions(buf: bytes, ndocs: int) -> list:
    """Inverse of encode_positions -> list of int64 numpy arrays."""
    flat = varint_decode(buf)
    npos = np.empty(ndocs, dtype=np.int64)
    i = 0
    for k in range(ndocs):
        npos[k] = n = int(flat[i])
        i += n + 1
    if not ndocs:
        return []
    return np.split(flat_positions(flat, npos), np.cumsum(npos)[:-1])


def flat_positions(streams: np.ndarray, npos: np.ndarray) -> np.ndarray:
    """The positions of decoded position streams [npos, p0, gaps...]
    laid back to back, given each stream's `npos` (a posting's tf), as
    one flat int64 array in which stream i owns the next npos[i] values.
    With the headers known, one segmented cumsum over the rest gives
    every position (exact even if the global uint64 sum wraps: the wrap
    cancels in the subtraction of each stream's base). Raises
    ValueError when the headers disagree with `npos`."""
    npos = np.asarray(npos, dtype=np.int64)
    ends = np.cumsum(npos)
    starts = ends - npos
    heads = starts + np.arange(len(npos))
    if len(streams) != int(npos.sum()) + len(npos) or not np.array_equal(
        streams[heads], npos.astype(np.uint64)
    ):
        raise ValueError(
            "corrupt posting batch: position headers disagree with tfs"
        )
    body = np.ones(len(streams), dtype=bool)
    body[heads] = False
    pos = streams[body]
    np.cumsum(pos, out=pos)
    base = np.concatenate((np.zeros(1, np.uint64), pos))[starts]
    pos -= np.repeat(base, npos)
    return pos.view(np.int64)

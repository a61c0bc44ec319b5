"""Delta + varbyte posting-list codec, NumPy-vectorized.

The inverted index stores, per term, a sorted run of (doc_id, tf) pairs
compressed as: doc_id deltas (first value absolute) and raw tfs, each
varbyte-encoded (7 data bits per byte, high bit = continuation). This is the
classic IR posting compression (Manning/Raghavan/Schütze ch. 5 — public
algorithm); the reference has no index at all (it refits TF-IDF per query,
data_manager.py:122-123), so this is the engine's scale substitute.

encode_postings / decode_postings work on one posting list and are the
reference format. encode_posting_lists writes the same bytes for every list
of an Arrow batch in one set of numpy passes, so the build and the merge
never loop over terms in Python (a per-term loop of the per-list encoder
was most of a build's encode stage).

Block-max metadata for WAND: postings are chunked into BLOCK docs; per block
the index stores the max tf so the scorer can skip whole blocks that cannot
reach the current top-k threshold (SURVEY.md §4.2).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK = 128  # docs per block for block-max metadata


def _varbyte_lens(v: np.ndarray) -> np.ndarray:
    """Bytes per uint64 value: ceil(bitlen/7), min 1 — computed by comparing
    against the 9 fixed 2^(7L) thresholds (vectorized, float-safe)."""
    lens = np.ones(v.shape, dtype=np.int64)
    for L in range(1, 10):
        lens += v >= (np.uint64(1) << np.uint64(7 * L))
    return lens


def _varbyte_put(out: np.ndarray, v: np.ndarray, lens: np.ndarray, ends: np.ndarray) -> None:
    """Write each value's 7-bit groups into out, ending just before ends.

    Byte j (0-based from the end) of a value, out[end-1-j], holds bits
    j*7..j*7+6; the continuation bit is set on all but the last byte."""
    for j in range(int(lens.max(initial=0))):
        mask = lens > j
        b = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        if j > 0:
            b |= np.uint8(0x80)
        out[ends[mask] - 1 - j] = b


def _excl_cumsum(x: np.ndarray) -> np.ndarray:
    """[0, x0, x0+x1, ...]: offsets of consecutive runs of lengths x."""
    out = np.zeros(x.size + 1, dtype=np.int64)
    np.cumsum(x, out=out[1:])
    return out


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array to varbyte. Vectorized: compute per-value byte
    lengths, scatter 7-bit groups into a flat output buffer."""
    v = np.asarray(values, dtype=np.uint64)
    lens = _varbyte_lens(v)
    ends = np.cumsum(lens)  # position AFTER each value's last byte
    out = np.empty(int(ends[-1]) if ends.size else 0, dtype=np.uint8)
    _varbyte_put(out, v, lens, ends)
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Decode varbyte → uint64 array. Vectorized via cumulative group ids."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0  # terminal byte of each value
    # group id for each byte: index of the value it belongs to
    # a value's bytes are [continuation..., terminal]; group = count of
    # terminals strictly before this byte
    gid = np.zeros(raw.size, dtype=np.int64)
    np.cumsum(is_last[:-1], out=gid[1:])
    nvals = int(is_last.sum())
    # byte position within its value, counted from the terminal byte (0 = last)
    ends = np.flatnonzero(is_last)
    pos_from_end = ends[gid] - np.arange(raw.size)
    vals = np.zeros(nvals, dtype=np.uint64)
    np.add.at(
        vals,
        gid,
        (raw & np.uint8(0x7F)).astype(np.uint64) << (7 * pos_from_end.astype(np.uint64)),
    )
    return vals


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode a sorted (doc_id, tf) run: [n][varbyte deltas][varbyte tfs].

    doc_ids must be sorted ascending and unique; tfs >= 1. doc_ids are signed
    64-bit hashes — we bias by 2^63 so deltas stay unsigned.
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    if d.size == 0:
        return np.int64(0).tobytes()
    u = d.astype(np.uint64) + np.uint64(1 << 63)  # order-preserving bias
    deltas = np.empty_like(u)
    deltas[0] = u[0]
    np.subtract(u[1:], u[:-1], out=deltas[1:])
    header = np.int64(d.size).tobytes()
    db = varbyte_encode(deltas)
    return header + np.int64(len(db)).tobytes() + db + varbyte_encode(t.astype(np.uint64))


def decode_postings(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode → (doc_ids int64 sorted, tfs int64)."""
    n = int(np.frombuffer(buf[:8], dtype=np.int64)[0])
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    dlen = int(np.frombuffer(buf[8:16], dtype=np.int64)[0])
    deltas = varbyte_decode(buf[16 : 16 + dlen])
    tfs = varbyte_decode(buf[16 + dlen :])
    u = np.cumsum(deltas, dtype=np.uint64)
    doc_ids = (u - np.uint64(1 << 63)).astype(np.int64)
    return doc_ids, tfs.astype(np.int64)


def block_max_meta(tfs: np.ndarray) -> np.ndarray:
    """Per-block max tf of one posting list, for block-max WAND skipping."""
    t = np.asarray(tfs, dtype=np.int64)
    nblocks = (t.size + BLOCK - 1) // BLOCK
    return np.pad(t, (0, nblocks * BLOCK - t.size)).reshape(nblocks, BLOCK).max(axis=1)


def _binary_array(offsets: np.ndarray, data: np.ndarray) -> pa.BinaryArray:
    # pa.array raises if a batch's bytes overflow binary's int32 offsets
    return pa.Array.from_buffers(
        pa.binary(),
        offsets.size - 1,
        [None, pa.array(offsets, pa.int32()).buffers()[1], pa.py_buffer(data)],
    )


def encode_posting_lists(
    offsets: np.ndarray | pa.Array, doc_ids: np.ndarray | pa.Array, tfs: np.ndarray | pa.Array
) -> tuple[pa.BinaryArray, pa.BinaryArray]:
    """Encode many posting lists at once → (postings, bm_tfs).

    List i is doc_ids/tfs[offsets[i] - offsets[0] : offsets[i+1] - offsets[0]]
    (an Arrow ListArray's .offsets and .flatten(), which keep a slice's
    offsets but drop the values before it). Each list obeys encode_postings'
    precondition (doc ids sorted ascending and unique). Element i of the
    outputs equals encode_postings(d, t) and the varbyte-encoded per-block
    max tfs (block_max_meta(t)) of list i byte for byte, empty lists
    included; the work is one set of numpy passes over the whole batch.
    """
    off = np.asarray(offsets, dtype=np.int64)
    off = off - off[0]
    n = np.diff(off)
    starts = off[:-1]
    u = np.asarray(doc_ids, dtype=np.int64).astype(np.uint64) + np.uint64(1 << 63)
    t = np.asarray(tfs, dtype=np.int64).astype(np.uint64)

    # postings: [n][delta bytes][varbyte deltas][varbyte tfs], or [0] if empty
    deltas = u.copy()
    deltas[1:] -= u[:-1]
    first = starts[n > 0]
    deltas[first] = u[first]  # each list's first value is absolute
    ld, lt = _varbyte_lens(deltas), _varbyte_lens(t)
    cd, ct = _excl_cumsum(ld), _excl_cumsum(lt)
    dlen = cd[off[1:]] - cd[starts]
    tlen = ct[off[1:]] - ct[starts]
    poff = _excl_cumsum(np.where(n > 0, 16 + dlen + tlen, 8))
    buf = np.zeros(int(poff[-1]), dtype=np.uint8)  # an empty list's n=0 stays 0
    ne = np.flatnonzero(n)
    header = np.stack([n[ne], dlen[ne]], axis=1).view(np.uint8)
    buf[poff[ne, None] + np.arange(16)] = header
    _varbyte_put(buf, deltas, ld, cd[1:] + np.repeat(poff[:-1] + 16 - cd[starts], n))
    _varbyte_put(buf, t, lt, ct[1:] + np.repeat(poff[:-1] + 16 + dlen - ct[starts], n))

    # block-max metadata: the max tf of every BLOCK postings
    nb = (n + BLOCK - 1) // BLOCK
    boff = _excl_cumsum(nb)
    bstart = np.repeat(starts - BLOCK * boff[:-1], nb) + BLOCK * np.arange(boff[-1])
    bm_t = np.maximum.reduceat(t, bstart) if bstart.size else np.empty(0, np.uint64)
    lens = _varbyte_lens(bm_t)
    c = _excl_cumsum(lens)
    out = np.empty(int(c[-1]), dtype=np.uint8)
    _varbyte_put(out, bm_t, lens, c[1:])
    return _binary_array(poff, buf), _binary_array(c[boff], out)


def merge_sorted_runs(runs: list[tuple[np.ndarray, np.ndarray]]) -> tuple[np.ndarray, np.ndarray]:
    """Merge sorted (doc_id, tf) runs for one term, summing tf on duplicate
    doc_ids (duplicates appear on resumed incremental builds). Vectorized concat+sort merge — the runs are
    per-partition outputs so a k-way heap merge is unnecessary at this level.
    """
    if not runs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    d = np.concatenate([r[0] for r in runs])
    t = np.concatenate([r[1] for r in runs])
    order = np.argsort(d, kind="stable")
    d, t = d[order], t[order]
    if d.size == 0:
        return d, t
    boundary = np.empty(d.size, dtype=bool)
    boundary[0] = True
    np.not_equal(d[1:], d[:-1], out=boundary[1:])
    groups = np.cumsum(boundary) - 1
    out_d = d[boundary]
    out_t = np.zeros(out_d.size, dtype=np.int64)
    np.add.at(out_t, groups, t)
    return out_d, out_t

"""Property tests for the delta+varbyte posting codec (SURVEY.md §5.2.3)."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from information_retrieval_project_spark.index.codec import (
    block_max_meta,
    decode_postings,
    encode_posting_lists,
    encode_postings,
    merge_sorted_runs,
    varbyte_decode,
    varbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.integers(min_value=1, max_value=10**6),
        ),
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
def test_postings_roundtrip(pairs):
    uniq = {}
    for d, t in pairs:
        uniq[d] = t
    d = np.array(sorted(uniq), dtype=np.int64)
    t = np.array([uniq[x] for x in sorted(uniq)], dtype=np.int64)
    dd, tt = decode_postings(encode_postings(d, t))
    assert np.array_equal(dd, d)
    assert np.array_equal(tt, t)


def test_empty_postings():
    d, t = decode_postings(encode_postings(np.array([], dtype=np.int64), np.array([], dtype=np.int64)))
    assert d.size == 0 and t.size == 0


def test_merge_sums_duplicates():
    d1, t1 = np.array([1, 5, 9]), np.array([2, 1, 1])
    d2, t2 = np.array([1, 7, 9]), np.array([3, 1, 4])
    md, mt = merge_sorted_runs([(d1, t1), (d2, t2)])
    assert md.tolist() == [1, 5, 7, 9]
    assert mt.tolist() == [5, 1, 1, 5]


def test_block_max():
    d = np.arange(0, 300, dtype=np.int64)
    t = np.arange(1, 301, dtype=np.int64)
    assert block_max_meta(t).tolist() == [128, 256, 300]


def test_compression_ratio_on_dense_ids():
    """Dense doc ids (small gaps) must compress well below 8 bytes/posting."""
    rng = np.random.default_rng(7)
    d = np.cumsum(rng.integers(1, 30, size=100_000)).astype(np.int64)
    t = rng.integers(1, 5, size=d.size).astype(np.int64)
    blob = encode_postings(d, t)
    bytes_per_posting = len(blob) / d.size
    assert bytes_per_posting < 3.0, bytes_per_posting


@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=-(2**40), max_value=2**40),
                st.integers(min_value=1, max_value=100),
            ),
            max_size=50,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=100, deadline=None)
def test_merge_overlapping_runs_sums_tf(runs_raw):
    """merge_sorted_runs over runs with OVERLAPPING doc ids (the resumed /
    salted-rebuild case) must equal the dict-sum model."""
    runs, model = [], {}
    for pairs in runs_raw:
        uniq = {}
        for d, t in pairs:
            uniq[d] = t
        d = np.array(sorted(uniq), dtype=np.int64)
        t = np.array([uniq[x] for x in sorted(uniq)], dtype=np.int64)
        runs.append((d, t))
        for x, y in uniq.items():
            model[x] = model.get(x, 0) + y
    md, mt = merge_sorted_runs(runs)
    assert md.tolist() == sorted(model)
    assert mt.tolist() == [model[x] for x in sorted(model)]


_I64 = np.iinfo(np.int64)


@st.composite
def _posting_lists(draw):
    """Posting lists as an encoder sees them: sorted unique doc ids (dense or
    spread over the whole hash range, optionally pinned to both int64
    extremes), tfs >= 1 up to 9-byte varbytes; lengths favour the block
    edges and empty lists can sit between non-empty ones."""
    lens = draw(st.lists(
        st.one_of(st.sampled_from([0, 1, 127, 128, 129, 256, 257]), st.integers(0, 40)),
        max_size=8,
    ))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    out = []
    for n in lens:
        if draw(st.booleans()):
            d = np.cumsum(rng.integers(1, 200, size=n)) + draw(st.integers(_I64.min, _I64.max - 200 * n))
        else:
            d = np.unique(rng.integers(_I64.min, _I64.max, size=n, endpoint=True))
            if n >= 2 and draw(st.booleans()):
                d[0], d[-1] = _I64.min, _I64.max
                d = np.unique(d)
        t = rng.integers(1, draw(st.sampled_from([2, 128, 2**40, _I64.max])), size=d.size, endpoint=True)
        out.append((d.astype(np.int64), t.astype(np.int64)))
    return out


@given(_posting_lists(), st.integers(0, 8))
@settings(max_examples=200, deadline=None)
def test_batch_encoder_equals_per_list_reference(lists, skip):
    """encode_posting_lists == encode_postings + varbyte(block max tfs) byte
    for byte on every list, also when the Arrow list array is sliced to a
    non-zero offset (Spark can hand a UDF sliced arrays)."""
    skip = min(skip, len(lists))
    off = np.cumsum([0] + [d.size for d, _ in lists])
    doc_ids = np.concatenate([d for d, _ in lists] + [np.empty(0, np.int64)])
    tfs = np.concatenate([t for _, t in lists] + [np.empty(0, np.int64)])
    pairs = pa.ListArray.from_arrays(
        pa.array(off, pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(doc_ids, pa.int64()), pa.array(tfs, pa.int64())], names=["doc_id", "tf"]
        ),
    ).slice(skip)
    post, bm_tfs = encode_posting_lists(pairs.offsets, *pairs.flatten().flatten())
    assert len(post) == len(bm_tfs) == len(lists) - skip
    for i, (d, t) in enumerate(lists[skip:]):
        assert post[i].as_py() == encode_postings(d, t)
        assert bm_tfs[i].as_py() == varbyte_encode(block_max_meta(t).astype(np.uint64))
        dd, tt = decode_postings(post[i].as_py())
        assert np.array_equal(dd, d) and np.array_equal(tt, t)

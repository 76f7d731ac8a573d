"""Property-based block-format gates (hypothesis): encode/decode of the
posting-block list columns is a bijection on arbitrary valid inputs,
including the many-blocks-per-batch and reordered-docs shapes the
vectorized build and merge rely on. Mirrors the reference's unit-level list
roundtrip tests (RdbListTest, SURVEY.md §5.1) with randomized inputs."""

from __future__ import annotations

import io

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from open_source_search_engine_spark.functions import codec


def _encode(groups, tfs, dls, positions=None) -> pa.RecordBatch:
    sizes = np.array([len(g) for g in groups], dtype=np.int64)
    ids = np.array([x for g in groups for x in g], dtype=np.int64)
    cols = codec.encode_blocks(
        np.cumsum(sizes) - sizes, ids, tfs, dls, positions
    )
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


_PACKED = ("doc_ids", "tfs", "dls")


def _stored(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Write ``batch`` as a Parquet v2 file whose integer list elements are
    DELTA_BINARY_PACKED (the encoding the catalog's v2 writer falls back to
    once a dictionary stops paying) and read it back."""
    buf = io.BytesIO()
    pq.write_table(
        pa.Table.from_batches([batch]), buf,
        use_dictionary=False, data_page_version="2.0",
        column_encoding={f"{c}.list.element": "DELTA_BINARY_PACKED" for c in _PACKED},
    )
    meta = pq.ParquetFile(io.BytesIO(buf.getvalue())).metadata.row_group(0)
    for i in range(meta.num_columns):
        col = meta.column(i)
        if col.path_in_schema.split(".")[0] in _PACKED:
            assert "DELTA_BINARY_PACKED" in col.encodings
    (out,) = pq.read_table(io.BytesIO(buf.getvalue())).combine_chunks().to_batches()
    return out


uints = st.lists(
    st.integers(min_value=0, max_value=(1 << 63) - 1), min_size=0, max_size=200
)


@settings(max_examples=200, deadline=None)
@given(uints)
def test_varbyte_roundtrip(vals):
    """Any non-negative int64 values, in any order and including none at
    all, survive the stored integer packing unchanged (delta-packed Parquet
    pages took over from the varbyte byte codec)."""
    ids = np.array(vals, dtype=np.int64)
    small = ids % (1 << 31)
    batch = _stored(_encode([vals], small, small))
    got_ids, got_tfs, got_dls, _, counts = codec.decode_blocks(batch, False)
    assert got_ids.tolist() == vals
    assert got_tfs.tolist() == got_dls.tolist() == small.tolist()
    assert counts.tolist() == [len(vals)]


@settings(max_examples=100, deadline=None)
@given(uints, st.integers(min_value=1, max_value=8))
def test_varbyte_groups_concat_equals_whole(vals, n_groups):
    """Grouped encoding is EXACTLY the per-group slices of one shared pass:
    blocks encoded in one batch, or one block per batch, hold the same
    lists, and their concatenation decodes to the original values with
    each group's count."""
    if not vals:
        return
    cuts = sorted(
        set([0] + [(i * len(vals)) // n_groups for i in range(1, n_groups)])
    )
    groups = [vals[a:b] for a, b in zip(cuts, cuts[1:] + [len(vals)])]
    ones = np.ones(len(vals), dtype=np.int64)
    whole = _encode(groups, ones, ones)
    parts = [
        _encode([g], ones[: len(g)], ones[: len(g)]) for g in groups
    ]
    assert pa.Table.from_batches(parts).equals(pa.Table.from_batches([whole]))
    dec, _, _, _, counts = codec.decode_blocks(_stored(whole), False)
    assert dec.tolist() == vals
    assert (np.cumsum(counts) - counts).tolist() == cuts


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=1 << 40), min_size=1, max_size=30
        ),
        min_size=1,
        max_size=20,
    )
)
def test_delta_groups_roundtrip(groups):
    """Sorted doc ids stored absolute per block come back block by block
    after the delta packing of the stored pages (which runs across block
    boundaries, where the next block restarts below the last id)."""
    groups = [sorted(g) for g in groups]
    n = sum(len(g) for g in groups)
    ones = np.ones(n, dtype=np.int64)
    batch = _stored(_encode(groups, ones, ones))
    assert batch.column("doc_ids").to_pylist() == groups
    back, _, _, _, counts = codec.decode_blocks(batch, False)
    assert back.tolist() == [x for g in groups for x in g]
    assert counts.tolist() == [len(g) for g in groups]


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=(1 << 63) - 1),
            min_size=1, max_size=30, unique=True,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_block_lists_roundtrip(groups):
    """Many blocks in one batch decode to the concatenation of their lists,
    with each block's doc count."""
    groups = [sorted(g) for g in groups]
    n = sum(len(g) for g in groups)
    tfs = np.arange(n, dtype=np.int64) % 7 + 1
    dls = np.arange(n, dtype=np.int64) * 3 + 1
    ids, got_tfs, got_dls, _, counts = codec.decode_blocks(
        _encode(groups, tfs, dls), False
    )
    assert ids.tolist() == [x for g in groups for x in g]
    assert got_tfs.tolist() == tfs.tolist()
    assert got_dls.tolist() == dls.tolist()
    assert counts.tolist() == [len(g) for g in groups]
    # a slice of the batch (the merge stream's carry) decodes on its own
    tail, _, _, _, _ = codec.decode_blocks(_encode(groups, tfs, dls).slice(1), False)
    assert tail.tolist() == [x for g in groups[1:] for x in g]


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10000), min_size=0, max_size=12),
        min_size=1,
        max_size=25,
    ),
    st.randoms(use_true_random=False),
)
def test_permute_segments(segs, rnd):
    """Reordering docs carries each doc's position list along (the build
    and merge sort postings with one take on the per-doc lists)."""
    tfs = np.array([len(s) for s in segs], dtype=np.int64)
    flat = np.array([x for s in segs for x in s], dtype=np.int64)
    perm = list(range(len(segs)))
    rnd.shuffle(perm)
    out = codec.doc_positions(tfs, flat).take(pa.array(perm))
    assert out.to_pylist() == [segs[i] for i in perm]


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=10),
        min_size=1,
        max_size=20,
    )
)
def test_positions_roundtrip(pos_lists):
    pos_lists = [sorted(p) for p in pos_lists]
    tfs = np.array([len(p) for p in pos_lists], dtype=np.int64)
    flat = np.array([x for p in pos_lists for x in p], dtype=np.int64)
    batch = _encode(
        [list(range(len(pos_lists)))], tfs, tfs, codec.doc_positions(tfs, flat)
    )
    _, _, _, back, _ = codec.decode_blocks(batch, True)
    assert back.to_pylist() == pos_lists

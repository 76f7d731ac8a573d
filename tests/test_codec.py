"""Block-format unit tests -- mirrors the reference's posdb list round-trip
tests (`test/unit/PosdbTest.cpp`, `test/unit/RdbListTest.cpp`: add keys ->
dump -> merge -> verify), re-expressed as encode/decode round-trips of the
posting-block list columns (functions/codec.py; SURVEY.md §5.3.3).
"""

import os

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from open_source_search_engine_spark.functions import codec


def _batch(doc_lists, tf_lists=None, dl_lists=None, pos_lists=None):
    """Encode per-block doc lists into one RecordBatch of block rows."""
    sizes = np.array([len(d) for d in doc_lists], dtype=np.int64)
    starts = np.cumsum(sizes) - sizes

    def flat(lists):
        return np.array([x for lst in lists for x in lst], dtype=np.int64)

    ids = flat(doc_lists)
    tfs = np.ones(ids.size, np.int64) if tf_lists is None else flat(tf_lists)
    dls = np.ones(ids.size, np.int64) if dl_lists is None else flat(dl_lists)
    positions = None
    if pos_lists is not None:
        tfs = np.array([len(p) for p in pos_lists], dtype=np.int64)
        positions = codec.doc_positions(tfs, flat(pos_lists))
    cols = codec.encode_blocks(starts, ids, tfs, dls, positions)
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1),
        min_size=1, max_size=200, unique=True,
    )
)
@settings(max_examples=100, deadline=None)
def test_doc_ids_roundtrip(ids):
    ids = sorted(ids)
    doc_ids, _, _, _, counts = codec.decode_blocks(_batch([ids]), False)
    assert doc_ids.tolist() == ids and counts.tolist() == [len(ids)]


def test_doc_ids_compression_is_effective(spark, catalog):
    # dense sorted ids -> delta-packed by the catalog's Parquet v2 writer;
    # raw int64 would be 8 bytes each
    ids = [int(x) for x in np.arange(10_000, dtype=np.int64) * 3 + 12345]
    catalog.write_table(
        spark.createDataFrame([(ids,)], "doc_ids array<bigint>"), "blocks"
    )
    (data_dir,) = catalog.data_dirs("blocks")
    size = sum(
        os.path.getsize(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    assert size < 10_000 * 2


def test_counts_roundtrip():
    tfs = [1, 2, 3, 127, 128, 300]
    dls = [7, 1, 65_535, 128, 2, 9]
    _, got_tfs, got_dls, _, _ = codec.decode_blocks(
        _batch([[10, 11, 12], [1, 5, 9]], [tfs[:3], tfs[3:]], [dls[:3], dls[3:]]),
        False,
    )
    assert got_tfs.tolist() == tfs and got_dls.tolist() == dls


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=100_000), min_size=1, max_size=20),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=100, deadline=None)
def test_positions_roundtrip(doc_positions):
    doc_positions = [sorted(set(p)) for p in doc_positions]
    batch = _batch([list(range(len(doc_positions)))], pos_lists=doc_positions)
    _, tfs, _, positions, _ = codec.decode_blocks(batch, True)
    assert positions.to_pylist() == doc_positions
    assert tfs.tolist() == [len(p) for p in doc_positions]


def test_positions_boundary_reset():
    # second doc starts at a position lower than the first doc's last
    pos = [[5, 9, 1000], [0, 2]]
    _, _, _, positions, _ = codec.decode_blocks(
        _batch([[3, 8]], pos_lists=pos), True
    )
    assert positions.to_pylist() == pos


def test_no_positions_is_an_empty_outer_list():
    batch = _batch([[1, 2], [3]])
    assert batch.column("positions").to_pylist() == [[], []]

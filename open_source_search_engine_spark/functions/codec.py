"""Posting-block format: the one place the stored block layout is defined.

Replaces the reference's 18->12->6-byte posdb prefix key compression
(`Posdb.h:44-48,228-233`, `RdbList.h:34-46` useHalfKeys) with Parquet list
columns: each ``postings`` row (index_build.POSTINGS_SCHEMA) is one block,
the docs of one term inside one doc-hash prefix range, stored as

  doc_ids    array<bigint>       sorted ascending, unique within the block
  tfs        array<int>          term frequency per doc (parallel)
  dls        array<int>          doc length per doc (parallel)
  positions  array<array<int>>   one ascending token-position list per doc;
                                 an EMPTY outer list when the index was
                                 built with store_positions=False

The catalog writes every table with the Parquet v2 writer, which packs
these integers itself (dictionary-encoded while the dictionary pays, else
DELTA_BINARY_PACKED) -- no codec of our own and no binary cells. The
Spark query paths explode ``arrays_zip(doc_ids, tfs, dls[, positions])``
in the JVM (query.SearchEngine.decoded_postings); the driver route reads
a small plan's blocks with Arrow and flattens them with
:func:`decode_blocks` (query.SearchEngine._live_postings); block-max WAND
reads only the per-block metadata in the driver. The per-block
``first_doc_id/last_doc_id/block_max_tf/block_min_dl`` columns replace the
reference's RdbMap page index + B-step skip bits (`Posdb.h:178-186`,
`RdbMap.h:1-25`) as the skip/prune metadata for block-max WAND.

The build, the merge and the driver route move between these columns and
flat numpy arrays with :func:`encode_blocks` / :func:`decode_blocks`: one
vectorized pass per column, offsets instead of per-row Python objects.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def _lists(offsets: np.ndarray, values: pa.Array) -> pa.ListArray:
    """One list per ``offsets`` interval; elements are never null."""
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)),
        values,
        type=pa.list_(pa.field("element", values.type, nullable=False)),
    )


def doc_positions(tfs: np.ndarray, pos_flat: np.ndarray) -> pa.ListArray:
    """Per-doc position lists from flat positions grouped by ``tfs`` (doc i
    owns the next ``tfs[i]`` values). Docs keep Arrow list identity, so
    reordering or filtering docs is one ``take``/``filter``."""
    offsets = np.zeros(tfs.size + 1, dtype=np.int64)
    np.cumsum(tfs, out=offsets[1:])
    return _lists(offsets, pa.array(pos_flat, pa.int32()))


def encode_blocks(
    block_starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: pa.ListArray | None,
) -> dict[str, pa.Array]:
    """Per-doc arrays (grouped: block j owns docs
    ``[block_starts[j], block_starts[j+1])``) -> the four list columns.
    ``positions`` (one list per doc) is None for an index without
    positions: every block then gets an empty outer list."""
    off = np.append(block_starts, doc_ids.size)
    if positions is None:
        off_pos = np.zeros(off.size, dtype=np.int64)
        positions = doc_positions(np.empty(0, np.int64), np.empty(0, np.int32))
    else:
        off_pos = off
    return {
        "doc_ids": _lists(off, pa.array(doc_ids, pa.int64())),
        "tfs": _lists(off, pa.array(tfs, pa.int32())),
        "dls": _lists(off, pa.array(dls, pa.int32())),
        "positions": _lists(off_pos, positions),
    }


def decode_blocks(batch: pa.RecordBatch | pa.Table, with_positions: bool):
    """Inverse of :func:`encode_blocks` over a batch (or table) of block
    rows.

    Returns ``(doc_ids, tfs, dls, positions, counts)``: flat int64 arrays in
    row order, the per-doc position lists (None unless ``with_positions``)
    and each row's doc count."""
    counts = pc.list_value_length(batch.column("doc_ids"))

    def flat(name: str) -> np.ndarray:
        return (
            pc.list_flatten(batch.column(name)).to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )

    positions = (
        pc.list_flatten(batch.column("positions")) if with_positions else None
    )
    return (
        flat("doc_ids"), flat("tfs"), flat("dls"), positions,
        counts.to_numpy(zero_copy_only=False).astype(np.int64),
    )

"""The one boundary between an Arrow list column and numpy.

Every ``arrow_udf`` kernel over an ``array<...>`` column reads its input
through ``ragged`` (flat values + per-row lengths) or ``matrix`` (fixed-width
rows as one 2-D float64 array), and a kernel that returns an array per row
builds it with ``lists`` — whole-batch numpy in, one Arrow array out, no
per-row Python on either side.  Reads go through ``flatten`` and
``list_value_length``, never ``.values``/``.offsets``: those ignore a sliced
array's offset and the values a null row may still back.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def ragged(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat values, int64 row lengths) of a list array; a null row has
    length 0 and contributes no values."""
    lens = pc.list_value_length(arr).fill_null(0).to_numpy().astype(np.int64)
    return arr.flatten().to_numpy(zero_copy_only=False), lens


def matrix(arr: pa.Array) -> np.ndarray:
    """(rows, width) float64 matrix of a list array; a null row or a row of
    another width raises rather than being reshaped."""
    flat, lens = ragged(arr)
    width = int(lens[0]) if len(lens) else 0
    if arr.null_count or (lens != width).any():
        raise ValueError(
            f"matrix: rows of unequal width {sorted(set(lens.tolist()))} "
            f"({arr.null_count} null)"
        )
    return flat.astype(np.float64).reshape(len(lens), width)


def lists(values, lens, valid=None) -> pa.ListArray:
    """List array whose row i holds the next ``lens[i]`` of ``values``; rows
    where ``valid`` is False are null (and take length 0)."""
    offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    mask = None if valid is None else pa.array(~np.asarray(valid, dtype=bool))
    return pa.ListArray.from_arrays(offsets, pa.array(values), mask=mask)

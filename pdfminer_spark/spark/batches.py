"""The one Arrow batch loop for per-row Python operators.

Every operator whose Python work is a function of one input row runs
through ``map_rows``: a single Arrow-batched ``mapInPandas`` stage that
walks each batch row by row and assembles the output column-wise. The
per-row function is the only part an operator writes.
"""
from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame

_NP_DTYPE = {"long": np.int64, "int": np.int32}


def map_rows(df: DataFrame,
             per_row: Callable[..., Sequence[Sequence]],
             ddl: str) -> DataFrame:
    """``df`` mapped through ``per_row`` into a frame of schema ``ddl``.

    ``per_row`` receives one row's values, one argument per column of
    ``df`` in order, and returns the row's output column-wise: one
    sequence per ``ddl`` column, all of one length. A 1→1 operator
    returns one-element sequences; zero-length output drops the row and
    longer output flat-maps it. ``ddl`` is a flat ``name type, ...``
    list: no column type may contain a comma."""
    return df.mapInPandas(row_batches(per_row, ddl), ddl)


def row_batches(per_row: Callable[..., Sequence[Sequence]], ddl: str):
    """``map_rows``' ``mapInPandas`` batch function, for callers that wrap
    it (``tools/capacity.py extract`` adds per-partition telemetry).

    Output stays columnar end to end: per-row tuples and their
    transposition cost more than the work itself for the many-row
    operators. Columns get the dtypes ``ddl`` declares, so a batch that
    emits nothing still yields typed columns (an empty untyped column is
    float64, which Arrow cannot cast to ``array<long>`` or ``string``);
    numeric columns go through numpy, several times faster than an
    int64 ``pd.Series`` from Python ints."""
    import pandas as pd

    fields = [f.split() for f in ddl.split(",")]

    def fn(batches):
        for pdf in batches:
            cols = [[] for _ in fields]
            for row in zip(*(pdf[c] for c in pdf.columns)):
                for (c, v) in zip(cols, per_row(*row)):
                    c.extend(v)
            yield pd.DataFrame({
                name: (np.array(c, dtype=_NP_DTYPE[t]) if t in _NP_DTYPE
                       else pd.Series(c, dtype="object"))
                for ((name, t), c) in zip(fields, cols)})

    return fn

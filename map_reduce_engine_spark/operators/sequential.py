"""Sequential per-group operators — the sanctioned grouped-map Python path.

Some per-group logic is genuinely order-dependent (recurrences over event
time) and has no single-statement SQL form. These run as Arrow-native
``applyInArrow`` — the reference's per-group ReduceRunner analogue
(``ReduceRunner.java:90-105``), here with bounded per-group state and
deterministic ordering. Each group arrives as a ``pyarrow.Table`` and is
read with whole-column ``to_pylist()``; nothing goes through pandas.

Scale shape: one shuffle on the group key; each task holds one group's rows
(bounded by per-user event counts, not table size). This is the engine's
pattern for any custom stateful batch operator; the streaming twin is
``applyInPandasWithState`` (streaming/windows.py).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame


def ewma_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Final exponentially-weighted moving average per group.

    ``s_1 = x_1; s_i = alpha*x_i + (1-alpha)*s_{i-1}`` over rows ordered by
    ``order_cols`` (must be a unique key within the group for determinism).
    Returns (group, ewma, n_events).
    """
    schema = f"{group_col} BIGINT, ewma DOUBLE, n_events BIGINT"

    def run(table: pa.Table) -> pa.Table:
        order = list(zip(*(table[c].to_pylist() for c in order_cols)))
        vals = table[value_col].to_pylist()
        s = None
        for i in sorted(range(table.num_rows), key=order.__getitem__):
            x = float(vals[i])
            s = x if s is None else alpha * x + (1.0 - alpha) * s
        return pa.table(
            {group_col: [table[group_col][0].as_py()], "ewma": [s], "n_events": [table.num_rows]}
        )

    cols = [group_col, *order_cols, value_col]
    return df.select(*cols).groupBy(group_col).applyInArrow(run, schema=schema)

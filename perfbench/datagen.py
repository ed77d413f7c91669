"""Seeded per-run inputs of the ``etl_bridge`` workload: the pandas
frames it writes.  They come from the run's ``--seed``; the bound
values of its queries are drawn in ``workloads.EtlBridge.prepare``
from the same seed.  The tables the queries read are the committed
sf0.1 fixture (``common.DATA_DIR``), never generated.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: rows in each frame the etl_bridge workload writes
ROWS_PER_WRITE = 20_000

#: etl frame columns as (name as the client spells it, canonical kind);
#: the upper-case names are lowercased by validate_column_names
ETL_COLUMNS = (
    ("ID", "int"),
    ("Cust_ID", "int"),
    ("REGION", "str"),
    ("Amount", "float"),
    ("QTY", "int"),
    ("Note", "str"),
    ("Event_TS", "ts"),
    ("Is_Flag", "bool"),
)

_NOTES = (
    "O'Brien", "100% done", "it''s", "50%% off", "%s literal", "a,b;c",
    'say "hi"', "%(name)s", "plain text", "tab\there",
)


def etl_frame(seed: int, frame_no: int, rows: int = ROWS_PER_WRITE) -> pd.DataFrame:
    """The ``frame_no``-th frame of a run: mixed dtypes with nulls.

    ``ID`` is unique across all frames of a run (frames occupy disjoint
    id ranges), so a UNION of two frames keeps every row.
    """
    rng = np.random.default_rng([seed, frame_no])
    null = lambda p: rng.random(rows) < p  # noqa: E731
    amount = np.round(rng.uniform(-500.0, 5000.0, rows), 2)
    amount[null(0.05)] = np.nan
    qty = pd.array(rng.integers(0, 1000, rows), dtype="Int64")
    qty[null(0.05)] = pd.NA
    notes = np.array(_NOTES, dtype=object)[rng.integers(0, len(_NOTES), rows)]
    notes = np.array([f"{n} #{i}" for i, n in enumerate(notes)], dtype=object)
    notes[null(0.05)] = None
    ts = np.datetime64("2024-01-01T00:00:00.000") + rng.integers(
        0, 90 * 86_400_000, rows
    ).astype("timedelta64[ms]")
    ts = pd.Series(ts.astype("datetime64[ms]"))
    ts[null(0.05)] = pd.NaT
    flag = pd.array(rng.random(rows) < 0.5, dtype="boolean")
    flag[null(0.05)] = pd.NA
    return pd.DataFrame({
        "ID": np.arange(frame_no * rows, (frame_no + 1) * rows, dtype=np.int64),
        "Cust_ID": rng.integers(0, 10_000, rows).astype(np.int64),
        "REGION": np.array(["north", "south", "east", "west"])[rng.integers(0, 4, rows)],
        "Amount": amount,
        "QTY": qty,
        "Note": notes,
        "Event_TS": ts,
        "Is_Flag": flag,
    })

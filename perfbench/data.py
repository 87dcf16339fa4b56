"""The benchmark's inputs: rows of a fixed sf0.1 sample, chosen by seed.

`inputs/` holds a sample of the sf0.1 test dataset, written by
`sample.py`: the first four days of `events` (about 280 rows per 2-hour
slice, 1,500 users, five event types, JSON `props`) and the first
24,000 `orders` (dense keys from 0). A run reads its rows from there;
its seed picks where the run starts in the sample and every choice its
ops make, so the same seed always gives the same inputs.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa

INPUTS = Path(__file__).resolve().parent / "inputs"
SLICE = pd.Timedelta(hours=2)           # the events one ingest commit appends
ORDER_STATUS = np.array(["F", "O", "P"])


def arrow_bytes(pdf: pd.DataFrame) -> int:
    """Arrow in-memory size of a frame: the 'user bytes' of its rows."""
    return pa.Table.from_pandas(pdf, preserve_index=False).nbytes


def events() -> pd.DataFrame:
    """The sampled events, in `ts` order."""
    return pd.read_parquet(INPUTS / "events.parquet")


def orders() -> pd.DataFrame:
    """The sampled orders, indexed by `o_orderkey`."""
    return pd.read_parquet(INPUTS / "orders.parquet").set_index(
        "o_orderkey", drop=False)


def revised(rng: np.random.Generator, rows: pd.DataFrame) -> pd.DataFrame:
    """Orders as an update changes them: a new status and a total
    repriced by up to ±10 %."""
    n = len(rows)
    return rows.assign(
        o_orderstatus=ORDER_STATUS[rng.integers(0, len(ORDER_STATUS), n)],
        o_totalprice=np.round(rows.o_totalprice * rng.uniform(0.9, 1.1, n), 2))

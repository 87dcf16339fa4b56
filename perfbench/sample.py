"""Write the benchmark's input sample from the sf0.1 test dataset.

    python3 perfbench/sample.py <sf0.1 directory>

The benchmark runs only on files in its own directory, so it reads its
rows from a fixed sample of the dataset, kept in `perfbench/inputs/`:

- `events.parquet`: the first EVENT_DAYS days of `events`, in `ts`
  order (about 3,330 rows a day, 280 per 2-hour slice, 1,500 users);
- `orders.parquet`: the first ORDERS rows of `orders` by `o_orderkey`
  (keys are dense from 0).

Each run then derives its inputs from the sample and its seed
(`data.py`). Re-running this script on the same dataset writes the same
files.
"""

from __future__ import annotations

import sys
from datetime import datetime, time, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OUT = Path(__file__).resolve().parent / "inputs"
EVENT_DAYS = 4
ORDERS = 24000


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    src = Path(argv[0])
    OUT.mkdir(exist_ok=True)
    events = pq.read_table(src / "events.parquet")
    events = events.sort_by("ts")
    first = pc.min(events["ts"]).as_py().date()
    end = datetime.combine(first + timedelta(days=EVENT_DAYS), time())
    events = events.filter(pc.less(events["ts"],
                                   pa.scalar(end, events["ts"].type)))
    orders = pq.read_table(src / "orders.parquet").sort_by("o_orderkey")
    for name, t in (("events", events), ("orders", orders.slice(0, ORDERS))):
        pq.write_table(t.replace_schema_metadata(None), OUT / f"{name}.parquet",
                       compression="zstd")
        print(f"{name}: {t.num_rows} rows", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

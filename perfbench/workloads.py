"""The benchmark's workloads, each a seeded, fixed sequence of ops.

A workload builds its fixture table in a fresh warehouse, then yields
`warm_rounds` warm-up rounds and `n_rounds` timed rounds of `Op`s, one
cycle of its op mix each. The runner lays out every timed round before it starts
the clock, times `Op.run`, and calls `Op.check` on the results after
the timed phase. A workload keeps its own model of what the table must
hold, updated as it lays out each round, so every check compares
against values derived from the input sample and the seed alone.

- `ingest`: 2-hour slices of the sampled events, from 06:00 of a seeded
  day, appended one commit each into a `day(ts), bucket[4](user_id)`
  table; a freshness lookup of today's rows after every commit and a
  table-wide aggregate after every second. Commit history grows with
  every op, and half-way through a run the day turns, so later
  freshness reads have a day's data to skip.
- `cdc`: the sampled orders table (`bucket[8](o_orderkey)`) taking
  rounds of new-order appends, an upsert (equality deletes), a range
  delete (position deletes), key lookups and aggregates with those
  deletes applied, then a compaction that clears them.
"""

from __future__ import annotations

import math
import sys
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from icelake_spark import StorageCatalog, maintenance
from icelake_spark.types.datatypes import Schema
from icelake_spark.types.metadata import PartitionSpec, build_partition_fields

from . import data


@dataclass
class Op:
    kind: str                           # append|upsert|delete|lookup|scan|compact
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    rows: int = 0                       # user rows appended/upserted/deleted
    user_bytes: int = 0                 # Arrow bytes of rows written


@dataclass
class ReadResult:
    rows: list
    to_df_done: float                   # perf_counter when to_df returned
    snapshot_id: int
    manifest_list: str
    delete_files: int                   # live delete files in that snapshot
    matched: int                        # table rows the query selected


def read(catalog, ident: str, spark, finish, filter: str | None = None,
         matched: Callable[[list], int] = len) -> ReadResult:
    """`load_table`, `new_scan(filter=…)`, `to_df`, then `finish` (the
    query applied to the DataFrame) and collect."""
    table = catalog.load_table(ident)
    df = table.new_scan(filter=filter).to_df(spark)
    mark = time.perf_counter()
    rows = finish(df).collect()
    snap = table.current_snapshot()
    return ReadResult(rows, mark, snap.snapshot_id,
                      table._resolve(snap.manifest_list),
                      int(snap.summary.get("total-delete-files", 0)),
                      matched(rows))


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def create(catalog, ident: str, spark, pdf: pd.DataFrame, parts: list[str]):
    schema = Schema.from_spark(spark.createDataFrame(pdf.head(1)).schema)
    fields, _ = build_partition_fields(schema, parts, 999)
    return catalog.create_table(ident, schema, spec=PartitionSpec(0, fields))


class Workload:
    """Base: `source` loads the inputs, `build` makes the fixture,
    `rounds` yields the warm-up rounds, then the `n_rounds` timed ones."""

    name = ""
    ident = ""
    round_s = 1.0       # seconds of --seconds per round: --seconds S
                        # times ceil(S / round_s) rounds, however long
                        # they take
    warm_rounds = 1

    def __init__(self, spark, seed: int, n_rounds: int):
        self.spark = spark
        self.seed = seed
        self.n_rounds = n_rounds
        self.catalog = None
        self.table = None
        self.live_bytes = 0             # Arrow bytes of the live rows

    def source(self) -> None:
        """Load the inputs the fixture and the ops are made from."""

    def build(self, warehouse: str) -> None:
        self.catalog = StorageCatalog(warehouse)

    def rounds(self) -> Iterator[list[Op]]:
        raise NotImplementedError

    def final_check(self) -> bool:
        return True


class Ingest(Workload):
    name = "ingest"
    ident = "db.events"
    round_s = 3.0
    # A read of more than 32 files makes Spark list them with a job of
    # its own (spark.sql.sources.parallelPartitionDiscovery.threshold),
    # which triples the aggregate's time. A round adds 8 files, so after
    # two warm-up rounds all but the first two timed aggregates cross it
    # and the median lies in one mode.
    warm_rounds = 2
    start_hour = 6      # at --seconds 15 the day turns half-way through
                        # the timed rounds

    def source(self) -> None:
        self.events = data.events()
        first = self.events.ts.iloc[0].normalize()
        days = (self.events.ts.iloc[-1].normalize() - first).days + 1
        commits = 2 * (self.warm_rounds + self.n_rounds)
        span = pd.Timedelta(hours=self.start_hour) + commits * data.SLICE
        last = days - math.ceil(span / pd.Timedelta(days=1))
        if last < 0:
            raise ValueError(f"{commits} commits of {data.SLICE} do not fit "
                             f"the {days}-day event sample")
        day = int(np.random.default_rng([self.seed, 1]).integers(0, last + 1))
        self.start = first + pd.Timedelta(days=day, hours=self.start_hour)

    def _slice(self, i: int) -> pd.DataFrame:
        lo = self.start + i * data.SLICE
        a, b = self.events.ts.searchsorted([lo, lo + data.SLICE])
        return self.events.iloc[a:b].reset_index(drop=True)

    def build(self, warehouse: str) -> None:
        super().build(warehouse)
        self.table = create(self.catalog, self.ident, self.spark,
                            self.events, ["day(ts)", "bucket[4](user_id)"])

    def rounds(self) -> Iterator[list[Op]]:
        spark, finish_scan = self.spark, (
            lambda df: df.groupBy("event_type").agg(
                F.count(F.lit(1)), F.sum("value")))
        day_rows: dict = defaultdict(lambda: [0, 0.0])
        by_type: dict = defaultdict(lambda: [0, 0.0])
        for r in range(self.warm_rounds + self.n_rounds):
            ops = []
            for i in (2 * r, 2 * r + 1):
                pdf = self._slice(i)
                df = spark.createDataFrame(pdf)
                nbytes = data.arrow_bytes(pdf)
                self.live_bytes += nbytes
                day = (self.start + i * data.SLICE).normalize()
                day_rows[day][0] += len(pdf)
                day_rows[day][1] += float(pdf.value.sum())
                for t, g in pdf.groupby("event_type").value:
                    by_type[t][0] += len(g)
                    by_type[t][1] += float(g.sum())
                ops.append(Op("append", lambda df=df: self.table.append(df),
                              lambda _: True, len(pdf), nbytes))
                want = tuple(day_rows[day])
                ops.append(Op("lookup", lambda day=day: read(
                    self.catalog, self.ident, spark,
                    lambda df: df.agg(F.count(F.lit(1)), F.sum("value")),
                    filter=f"ts >= '{day:%Y-%m-%d %H:%M:%S}'",
                    matched=lambda rows: rows[0][0]),
                    lambda res, want=want: (
                        res.rows[0][0] == want[0]
                        and close(res.rows[0][1], want[1]))))
            want = {t: tuple(v) for t, v in by_type.items()}
            ops.append(Op("scan", lambda: read(
                self.catalog, self.ident, spark, finish_scan),
                lambda res, want=want: len(res.rows) == len(want) and all(
                    row[1] == want[row[0]][0] and close(row[2], want[row[0]][1])
                    for row in res.rows)))
            yield ops


def _py(v):
    """A pandas cell as the Python value Spark's collect() returns."""
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v.item() if hasattr(v, "item") else v


class Cdc(Workload):
    name = "cdc"
    ident = "db.orders"
    round_s = 5.5
    initial_orders = 20000
    new_orders = 100                    # per append, two a round
    upsert_keys = 500
    new_keys = 50
    delete_span = 50

    def source(self) -> None:
        self.orders = data.orders()
        self.cols = list(self.orders.columns)
        need = self.initial_orders + (self.warm_rounds + self.n_rounds) * (
            2 * self.new_orders + self.new_keys)
        if need > len(self.orders):
            raise ValueError(f"{self.n_rounds} rounds need {need} orders; "
                             f"the sample has {len(self.orders)}")
        self.initial = self.orders.iloc[:self.initial_orders]

    def build(self, warehouse: str) -> None:
        super().build(warehouse)
        self.table = create(self.catalog, self.ident, self.spark,
                            self.initial, ["bucket[8](o_orderkey)"])
        self.table.append(self.spark.createDataFrame(
            self.initial.reset_index(drop=True)))
        self.model = self.initial
        self.taken = self.initial_orders    # sample rows in the table so far

    def _take(self, n: int) -> pd.DataFrame:
        """The next n orders of the sample, as new orders."""
        rows = self.orders.iloc[self.taken:self.taken + n]
        self.taken += n
        return rows

    def _lookup(self, rng) -> Op:
        """Key lookup of a live order."""
        key = int(rng.choice(self.model.index.values))
        want = [tuple(_py(v) for v in self.model.loc[key, self.cols])]
        return Op("lookup", lambda: read(
            self.catalog, self.ident, self.spark, lambda d: d,
            filter=f"o_orderkey = {key}"),
            lambda res: [tuple(x) for x in res.rows] == want)

    def _append(self) -> Op:
        """Append of the sample's next batch of new orders."""
        rows = self._take(self.new_orders)
        df = self.spark.createDataFrame(rows.reset_index(drop=True))
        self.model = pd.concat([self.model, rows])
        return Op("append", lambda: self.table.append(df), lambda _: True,
                  len(rows), data.arrow_bytes(rows))

    def _scan(self) -> Op:
        """Aggregate over the whole table, the live deletes applied."""
        g = self.model.groupby("o_orderstatus").o_totalprice
        want = {k: (int(c), float(s))
                for k, c, s in zip(g.size().index, g.size(), g.sum())}
        return Op("scan", lambda: read(
            self.catalog, self.ident, self.spark,
            lambda d: d.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)), F.sum("o_totalprice"))),
            lambda res: len(res.rows) == len(want) and all(
                row[1] == want[row[0]][0] and close(row[2], want[row[0]][1])
                for row in res.rows))

    def rounds(self) -> Iterator[list[Op]]:
        spark = self.spark
        for r in range(self.warm_rounds + self.n_rounds):
            rng = np.random.default_rng([self.seed, 4, r])
            ops = [self._append()]
            # upsert: revisions of orders, recent ones favoured, plus a
            # few brand-new orders
            pos = self.taken - 1 - np.floor(rng.exponential(
                self.taken / 10, self.upsert_keys - self.new_keys))
            pos = np.unique(np.clip(pos, 0, self.taken - 1).astype(int))
            rows = pd.concat([data.revised(rng, self.orders.iloc[pos]),
                              self._take(self.new_keys)])
            df = spark.createDataFrame(rows.reset_index(drop=True))
            self.model = pd.concat([
                self.model.drop(rows.index, errors="ignore"), rows])
            ops.append(Op("upsert", lambda df=df: self.table.upsert(
                df, key_cols=["o_orderkey"]), lambda _: True,
                len(rows), data.arrow_bytes(rows)))
            ops.append(self._append())
            # delete a key range
            max_key = int(self.orders.o_orderkey.iloc[self.taken - 1])
            lo = int(rng.integers(0, max_key - self.delete_span))
            hi = lo + self.delete_span
            gone = self.model.index[(self.model.index >= lo)
                                    & (self.model.index < hi)]
            self.model = self.model.drop(gone)
            ops.append(Op("delete", lambda lo=lo, hi=hi: self.table.delete_where(
                spark, f"o_orderkey >= {lo} AND o_orderkey < {hi}"),
                lambda _: True, len(gone)))
            # reads come in pairs on one table state, so each kind's
            # samples are alike and its median is not split between states
            ops += [self._lookup(rng), self._lookup(rng), self._scan(),
                    self._scan()]
            # every round ends in a compaction, so every round does the
            # same work
            ops.append(Op("compact", lambda: maintenance.rewrite_data_files(
                self.table, spark), lambda _: True))
            yield ops

    def final_check(self) -> bool:
        """End state == model, by symmetric EXCEPT ALL."""
        self.live_bytes = data.arrow_bytes(self.model)
        got = self.catalog.load_table(self.ident).to_df(self.spark) \
            .select(*self.cols)
        want = self.spark.createDataFrame(
            self.model.reset_index(drop=True)[self.cols])
        extra, missing = got.exceptAll(want).count(), want.exceptAll(got).count()
        if extra or missing:
            print(f"cdc end state: {extra} rows not in the model, {missing} "
                  "model rows missing", file=sys.stderr)
        return not extra and not missing


WORKLOADS = {w.name: w for w in (Ingest, Cdc)}

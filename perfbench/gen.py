"""Seeded input generators for the benchmark.

The program only ever sees the parquet files written here; every value is a
function of the workload seed, so one seed always gives the same inputs.

Rental source (FIXTURES.md sections 1-2): a Pagila-shaped ``rental`` history,
written as a base snapshot plus cumulative snapshots after each change batch.

* ~52 weeks of daily Poisson volume with two interior zero-activity weeks;
* a share of rental and return timestamps pinned to the week boundaries the
  reference's date-granularity semantics care about (Monday 00:00:00,
  Sunday 00:00:00, Sunday 23:59:59);
* returns 1 h to 45 d after the rental; 9% of rentals are never returned,
  so with the returns not yet due about 14% of a snapshot's rentals are open;
* ``last_update`` trails the row's latest event by up to an hour (so it is out
  of order against ``rental_id``) and every change batch's values are strictly
  above the previous snapshot's maximum, so the watermark always advances;
* ordinary batches insert the period's new rentals and record the returns that
  fell due in it, which dirties only the last few weeks; a late batch also
  returns rentals opened months earlier (the "months-old return" case), which
  dirties every week from the oldest changed one to the latest.

Catalog tables: TPC-H-shaped ``orders`` / ``lineitem`` and the ``events``
stream, with the column types and value domains of the driver fixtures, so
the registered catalog queries run on seeded data inside the checkout.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)  # a Monday
WEEK_S = 7 * 86400
HISTORY_WEEKS = 52
BATCH_PERIOD_S = 4 * 86400  # one scheduled run every 4 days: ~2% changed rows
OPEN_SHARE = 0.09  # never returned; with not-yet-due returns ~14% are open
BOUNDARY_SHARE = 0.01
LATE_MIN_AGE_S = 90 * 86400

_TS = pa.timestamp("us", tz="UTC")
RENTAL_SCHEMA = pa.schema(
    [
        pa.field("rental_id", pa.int64(), nullable=False),
        pa.field("rental_date", _TS, nullable=False),
        pa.field("return_date", _TS),
        pa.field("last_update", _TS, nullable=False),
    ]
)


def _boundary_snap(rng: np.random.Generator, t: np.ndarray) -> np.ndarray:
    """Pin a random share of timestamps (seconds since EPOCH) to a boundary of
    their own week: Monday 00:00:00, Sunday 00:00:00 or Sunday 23:59:59."""
    t = t.copy()
    pick = rng.random(t.size) < BOUNDARY_SHARE
    week0 = (t[pick] // WEEK_S) * WEEK_S
    offs = np.array([0, 6 * 86400, WEEK_S - 1])
    t[pick] = week0 + offs[rng.integers(0, 3, pick.sum())]
    return t


class RentalHistory:
    """The full event history behind every snapshot: each rental's open time,
    true return time (or never) and the time its return is recorded."""

    def __init__(self, seed: int, rows: int, batches: int, late_batches: set[int], late_rows: int):
        rng = np.random.default_rng(seed)
        self.s0 = HISTORY_WEEKS * WEEK_S
        horizon = self.s0 + batches * BATCH_PERIOD_S
        days = horizon // 86400
        rate = 1.0 + 0.3 * np.sin(np.arange(days) * 2 * np.pi / 7) + rng.random(days) * 0.4
        gap_weeks = rng.choice(np.arange(5, HISTORY_WEEKS - 5), 2, replace=False)
        for w in gap_weeks:
            rate[w * 7 : w * 7 + 7] = 0.0
        # rows are the base snapshot's size; the batches add the same daily rate
        base_days = self.s0 // 86400
        per_day = rng.poisson(rate * rows / rate[:base_days].sum())
        day = np.repeat(np.arange(days), per_day)
        rent = day * 86400 + rng.integers(0, 86400, day.size)
        rent = np.sort(_boundary_snap(rng, rent))
        n = rent.size
        ret = rent + rng.integers(3600, 45 * 86400 + 1, n)
        snapped = _boundary_snap(rng, ret)
        keep = (snapped - rent >= 3600) & (snapped - rent <= 45 * 86400)
        ret = np.where(keep, snapped, ret)
        lost = rng.random(n) < OPEN_SHARE
        ret = np.where(lost, -1, ret)
        # late batches return some long-open rentals at the batch's time
        late_ret = np.full(n, -1, dtype=np.int64)
        for b in sorted(late_batches):
            lo, hi = self.s0 + (b - 1) * BATCH_PERIOD_S, self.s0 + b * BATCH_PERIOD_S
            pool = np.flatnonzero(lost & (late_ret < 0) & (rent < lo - LATE_MIN_AGE_S))
            pick = rng.choice(pool, min(late_rows, pool.size), replace=False)
            late_ret[pick] = rng.integers(lo + 1, hi, pick.size)
        self.ret = np.where(late_ret >= 0, late_ret, ret)
        self.rent = rent
        self.lag = rng.integers(0, 3600, n)

    def snapshot(self, k: int) -> pa.Table:
        """The ``rental`` table as of the end of batch ``k`` (0 = base)."""
        s = self.s0 + k * BATCH_PERIOD_S
        live = self.rent <= s
        rent, ret, lag = self.rent[live], self.ret[live], self.lag[live]
        shown = (ret >= 0) & (ret <= s)
        last_event = np.where(shown, ret, rent)
        # the batch that recorded the row's latest event bounds its last_update
        batch_end = np.where(
            last_event <= self.s0,
            self.s0,
            self.s0 + -((self.s0 - last_event) // BATCH_PERIOD_S) * BATCH_PERIOD_S,
        )
        last_update = np.minimum(last_event + lag, batch_end)
        last_update = np.maximum(last_update, last_event)
        epoch_us = np.datetime64(EPOCH, "us").astype(np.int64)

        def ts(a, mask=None):
            us = a.astype(np.int64) * 1_000_000 + epoch_us
            return pa.array(us, pa.int64(), mask=mask).cast(_TS)

        return pa.table(
            {
                "rental_id": pa.array(np.flatnonzero(live) + 1, pa.int64()),
                "rental_date": ts(rent),
                "return_date": ts(np.where(shown, ret, 0), mask=~shown),
                "last_update": ts(last_update),
            },
            schema=RENTAL_SCHEMA,
        )


def write_files(table: pa.Table, path: str, files: int) -> dict:
    """Write ``table`` as ``files`` equal parquet files under ``path`` (a
    directory named like a table file, so ``load_table`` reads it); returns
    the layout (rows, bytes, files)."""
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // files)
    size = 0
    for i in range(files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * per, per), f)
        size += os.path.getsize(f)
    return {"rows": table.num_rows, "bytes": size, "files": files}


def catalog_tables(seed: int, orders: int, events: int) -> dict[str, pa.Table]:
    """TPC-H-shaped ``orders`` + ``lineitem`` and the ``events`` stream."""
    rng = np.random.default_rng(seed + 7919)
    ts = lambda us: pa.array(us, pa.int64()).cast(pa.timestamp("us"))
    day_us = 86400 * 1_000_000
    base_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
    base_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

    o_key = np.arange(orders, dtype=np.int64)
    o_date = base_1995 + rng.integers(0, 2404, orders) * day_us
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    o = pa.table(
        {
            "o_orderkey": o_key,
            "o_custkey": rng.integers(0, max(1, orders // 10), orders),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, orders)],
            "o_totalprice": np.round(rng.uniform(900, 450000, orders), 2),
            "o_orderdate": ts(o_date),
            "o_orderpriority": prio[rng.integers(0, 5, orders)],
        }
    )

    lines = rng.integers(1, 8, orders)
    l_order = np.repeat(o_key, lines)
    n = l_order.size
    l_num = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n) / 10, 2)
    ship = np.repeat(o_date, lines) + rng.integers(1, 122, n) * day_us
    li = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, max(1, orders // 7), n),
            "l_suppkey": rng.integers(0, max(1, orders // 150), n),
            "l_linenumber": l_num,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
            "l_shipdate": ts(ship),
        }
    )

    e_ts = np.sort(base_2024 + rng.integers(0, 30 * day_us, events))
    kinds = np.array(["signup", "click", "error", "view", "purchase"])
    ev = pa.table(
        {
            "event_id": np.arange(events, dtype=np.int64),
            "ts": ts(e_ts),
            "user_id": rng.integers(0, max(1, events // 66), events),
            "event_type": kinds[rng.integers(0, 5, events)],
            "value": np.round(rng.exponential(50.0, events), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, events).astype(str)), "}"
            ),
        }
    )
    return {"orders": o, "lineitem": li, "events": ev}

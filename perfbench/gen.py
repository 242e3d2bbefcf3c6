"""Seeded input generators. The program only ever sees what these write.

Everything here is a pure function of the seed (numpy ``default_rng``),
so two runs with one seed stage byte-identical inputs and draw the same
delta keys, query order and media slices.

The flow tables mimic the TPC-H-shaped ``orders``/``lineitem`` pair the
registered flow queries read (same column names and types, uniform
draws over the same value domains). Each order carries 1..7 lines with
distinct line numbers, so the bronze revision number derived from them
(``l_linenumber * 4 + zone``) is unique per work item and every
per-item ordering in the pipeline is total.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
# half a year around the registered WIP as-of date (1998-06-01): 8 orgs
# x 7 snapshot months keeps the (org, month) partition count of the
# snapshots sink near sixty
DATE_LO = np.datetime64("1998-03-01")
DATE_DAYS = 183
N_ORGS = 8


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per purpose, so adding a draw in one place
    never shifts another's values."""
    return np.random.default_rng([int(seed), sum(map(ord, stream)), len(stream)])


def _ts(days: np.ndarray, lo: np.datetime64) -> np.ndarray:
    return (lo + days.astype("timedelta64[D]")).astype("datetime64[us]")


def flow_tables(seed: int, n_orders: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(orders, lineitem) frames for ``n_orders`` work items."""
    r = rng_for(seed, "flow_tables")
    keys = np.arange(n_orders, dtype=np.int64)
    orders = pd.DataFrame(
        {
            "o_orderkey": keys,
            "o_custkey": r.integers(0, max(1, n_orders // 10), n_orders),
            "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n_orders),
            "o_totalprice": np.round(r.uniform(900.0, 500000.0, n_orders), 2),
            "o_orderdate": _ts(r.integers(0, DATE_DAYS, n_orders), DATE_LO),
            "o_orderpriority": r.choice(np.array(PRIORITIES), n_orders),
        }
    )
    n_lines = r.integers(1, 8, n_orders)
    total = int(n_lines.sum())
    okey = np.repeat(keys, n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    lineno = (np.arange(total) - starts + 1).astype(np.int32)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": okey,
            "l_partkey": r.integers(0, 20000, total),
            "l_suppkey": r.integers(0, 1000, total),
            "l_linenumber": lineno,
            "l_quantity": r.integers(1, 51, total).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900.0, 105000.0, total), 2),
            "l_discount": np.round(r.integers(0, 11, total) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, total) / 100.0, 2),
            "l_returnflag": r.choice(np.array(["N", "A", "R"]), total),
            "l_linestatus": r.choice(np.array(["F", "O"]), total),
            "l_shipdate": _ts(r.integers(0, DATE_DAYS + 30, total), DATE_LO),
        }
    )
    return orders, lineitem


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def write_flow_tables(seed: int, n_orders: int, sf_dir: str) -> None:
    """Write ``orders``/``lineitem`` parquet under ``sf_dir`` in the
    layout ``sources.load_table`` reads."""
    orders, lineitem = flow_tables(seed, n_orders)
    write_parquet(orders, os.path.join(sf_dir, "orders.parquet"))
    write_parquet(lineitem, os.path.join(sf_dir, "lineitem.parquet"))


def bronze_revisions(lineitem: pd.DataFrame) -> pd.DataFrame:
    """The bronze revision stream, derived from lineitem the way the
    repo's end-to-end composition derives it: one revision per line,
    zone from the return flag, org from the item key."""
    zone = lineitem["l_returnflag"].map({"N": 1, "A": 2, "R": 3}).astype(np.int32)
    return pd.DataFrame(
        {
            "work_item_id": lineitem["l_orderkey"].astype(str),
            "revision": (lineitem["l_linenumber"] * 4 + zone).astype(np.int32),
            "changed_date": lineitem["l_shipdate"],
            "zone": zone,
            "type": "state_change",
            "flagged": False,
            "org_id": (lineitem["l_orderkey"] % N_ORGS).astype(str),
            "updated": lineitem["l_shipdate"],
        }
    )


# every base revision is at most 1 + 7*4 + 3; tick revisions sit above
TICK_REVISION_BASE = 1000


def tick_delta(
    seed: int, tick: int, n_items: int, share: float, after: np.datetime64
) -> pd.DataFrame:
    """One new revision for a seeded ``share`` of work items, dated
    ``tick + 1`` days after ``after`` so it lands past the cursor."""
    r = rng_for(seed, f"tick-{tick}")
    k = max(1, int(round(n_items * share)))
    items = np.sort(r.choice(n_items, size=k, replace=False)).astype(np.int64)
    zone = r.integers(1, 4, k).astype(np.int32)
    day = np.datetime64(after, "D") + np.timedelta64(tick + 1, "D")
    when = np.full(k, day.astype("datetime64[us]")) + (
        r.integers(0, 86_400, k).astype("timedelta64[s]")
    ).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "work_item_id": items.astype(str),
            "revision": np.full(k, TICK_REVISION_BASE + tick, dtype=np.int32),
            "changed_date": when,
            "zone": zone,
            "type": "state_change",
            "flagged": False,
            "org_id": (items % N_ORGS).astype(str),
            "updated": when,
        }
    )


def shuffled(seed: int, names, rounds: int) -> list[str]:
    """``rounds`` independent seeded shuffles of ``names``, concatenated."""
    r = rng_for(seed, "query_order")
    names = sorted(names)
    out: list[str] = []
    for _ in range(rounds):
        out.extend(names[i] for i in r.permutation(len(names)))
    return out


def media_slices(
    seed: int, n_base: int, n_delta: int, max_ticks: int
) -> tuple[list[int], list[list[int]]]:
    """(base, deltas): a seeded base slice of document ids and
    ``max_ticks`` distinct delta slices, disjoint from it and from each
    other. The ids are drawn from a universe twice their number, so
    slices share near-duplicate groups (consecutive ids) across ticks."""
    r = rng_for(seed, "media_slices")
    n = n_base + n_delta * max_ticks
    ids = [int(x) for x in r.permutation(2 * n)[:n]]
    deltas = [
        ids[n_base + k * n_delta: n_base + (k + 1) * n_delta]
        for k in range(max_ticks)
    ]
    return ids[:n_base], deltas

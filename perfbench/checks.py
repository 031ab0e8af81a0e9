"""Output checks for every benchmark operation.

Each check returns a list of problems; an empty list means the output
is correct. Checks read what the program wrote (parquet, manifest JSON,
collected rows) with pyarrow, pandas and DuckDB only — never through
Spark — so they cost no Spark jobs and share no code path with what
they check.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

KPI_VIEWS = (
    "view_count_by_period",
    "item_view_rank_by_period",
    "most_viewed_item_latest_period",
    "top_event_type_by_period",
    "view_trend_by_period",
    "top_items_view_share",
)
# Both engines floor-truncate ratios at 1e-6; the last digit may land on
# either side of a boundary when the arithmetic order differs.
FLOAT_TOL = 2e-6


# ---------------------------------------------------------------------------
# KPI oracle (DuckDB, the repo's own oracle_sql())
# ---------------------------------------------------------------------------

def kpi_oracle(events, part, window=None) -> dict[str, pd.DataFrame]:
    """Every KPI view computed by DuckDB from the repo's ``oracle_sql()``
    over ``events``/``part`` (Arrow tables), with the period slicer
    ``window`` = (lo, hi) applied to the events first."""
    import __spark_entry__  # noqa: PLC0415  (the repo's oracle registry)

    sql = __spark_entry__.oracle_sql()
    if window is not None:
        ts = events.column("ts").to_numpy()
        keep = (ts >= window[0]) & (ts < window[1])
        events = events.filter(keep)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.register("events", events)
        con.register("part", part)
        return {v: con.execute(sql[f"kpi_{v}"]).df() for v in KPI_VIEWS}
    finally:
        con.close()


def _canon_value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (float, np.floating)):
        return float(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    return str(v)


def _canon_rows(columns, rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple("" if x is None else str(x) for x in t))


def compare_rows(columns, rows, expected: pd.DataFrame) -> list[str]:
    """Order-insensitive comparison of collected rows to an oracle frame;
    floats compared within :data:`FLOAT_TOL`."""
    if sorted(columns) != sorted(expected.columns):
        return [f"columns {sorted(columns)} != {sorted(expected.columns)}"]
    got = _canon_rows(list(columns), rows)
    exp_cols = list(expected.columns)
    want = _canon_rows(exp_cols, expected.itertuples(index=False, name=None))
    if len(got) != len(want):
        return [f"{len(got)} rows != {len(want)}"]
    for i, (a, b) in enumerate(zip(got, want)):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, (float, int)):
                if abs(x - y) > FLOAT_TOL:
                    return [f"row {i}: {a} != {b}"]
            elif x != y:
                return [f"row {i}: {a} != {b}"]
    return []


# ---------------------------------------------------------------------------
# daily_etl
# ---------------------------------------------------------------------------

def _read(warehouse_dir: str, name: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(warehouse_dir, name)).to_pandas()


def check_warehouse_day(warehouse_dir, source, delta_event_rows) -> list[str]:
    """After a day: row counts per table, unique ``guid_*`` and natural
    keys, and every fact attribute and item price equal to the expected
    state, which covers every SCD-1 update landed."""
    problems = []
    ev = source.events
    items = source.items
    expect_rows = {
        "event_raw": delta_event_rows,
        "d_event": len(ev),
        "d_user": int(ev["user_id"].nunique()),
        "d_parameter": int(ev["event_type"].nunique()),
        "d_item": len(items),
        "f_events": len(ev),
    }
    unique_cols = {
        "event_raw": ("guid_event_raw", "event_id"),
        "d_event": ("guid_event", "event_id"),
        "d_user": ("guid_user", "user_id"),
        "d_parameter": ("guid_parameter", "parameter_name"),
        "d_item": ("item_id",),
        "f_events": ("guid_event", "event_id"),
    }
    tables = {}
    for name, n in expect_rows.items():
        df = tables[name] = _read(warehouse_dir, name)
        if len(df) != n:
            problems.append(f"{name}: {len(df)} rows, expected {n}")
        for col in unique_cols[name]:
            if not df[col].is_unique:
                problems.append(f"{name}.{col} not unique")

    fact = tables["f_events"].sort_values("event_id")
    if len(fact) == len(ev):
        exp = ev.sort_values("event_id")
        for got_col, exp_col in (
            ("event_id", "event_id"),
            ("event_user_id", "user_id"),
            ("event_name", "event_type"),
            ("event_value", "value"),
            ("event_parameter_value", "item_key"),
        ):
            if not np.array_equal(fact[got_col].to_numpy(), exp[exp_col].to_numpy()):
                problems.append(f"f_events.{got_col} differs from the expected state")
    d_item = tables["d_item"].sort_values("item_id")
    if len(d_item) == len(items) and not np.array_equal(
        d_item["item_price"].to_numpy(), items["p_retailprice"].to_numpy()
    ):
        problems.append("d_item.item_price differs from the expected state")
    return problems


def check_manifest(export_dir: str, oracle: dict[str, pd.DataFrame]) -> list[str]:
    path = os.path.join(export_dir, "manifest.json")
    try:
        with open(path) as fh:
            views = json.load(fh)["views"]
    except (OSError, ValueError, KeyError) as exc:
        return [f"manifest unreadable: {exc}"]
    problems = []
    for v in KPI_VIEWS:
        got = views.get(v, {}).get("rows")
        if got != len(oracle[v]):
            problems.append(f"manifest {v}: {got} rows, oracle {len(oracle[v])}")
    return problems


# ---------------------------------------------------------------------------
# dedup_stream
# ---------------------------------------------------------------------------

def check_gate(decisions: pd.DataFrame, id_col: str, batches) -> tuple[list[list[str]], float]:
    """Exactly one decision per input and every planted exact copy
    rejected. Returns the problems of each batch (decisions for ids
    never sent count against the last batch) and the near-copy recall."""
    counts = decisions[id_col].value_counts()
    keep = decisions.drop_duplicates(id_col).set_index(id_col)["keep"]
    per_batch = []
    near_hit = near_n = 0
    for i, b in enumerate(batches):
        problems = []
        per = counts.reindex(b.ids.tolist()).fillna(0).to_numpy()
        if not (per == 1).all():
            problems.append(
                f"batch {i}: {int((per == 0).sum())} ids undecided, "
                f"{int((per > 1).sum())} decided twice"
            )
        exact = keep.reindex(b.exact_ids.tolist())
        kept = int((exact != False).sum())  # noqa: E712  (undecided counts as kept)
        if kept:
            problems.append(f"batch {i}: {kept} planted exact copies kept")
        near = keep.reindex(b.near_ids.tolist())
        near_hit += int((near == False).sum())  # noqa: E712  (NaN is not a hit)
        near_n += len(near)
        per_batch.append(problems)
    extra = set(decisions[id_col].tolist()).difference(*(b.ids.tolist() for b in batches))
    if extra:
        per_batch[-1].append(f"{len(extra)} decisions for ids never sent")
    return per_batch, (near_hit / near_n if near_n else 0.0)


def check_added(rows, added: pd.DataFrame, id_col: str) -> list[str]:
    """A change-feed sync returns exactly the (id, keep) decisions the
    newer version added, as read from the two snapshots."""
    expected = sorted(zip(added[id_col].tolist(), added["keep"].tolist()))
    got = sorted((r[0], r[1]) for r in rows)
    if got == expected:
        return []
    missing = len(set(expected) - set(got))
    extra = len(set(got) - set(expected))
    return [f"sync read {len(got)} decisions, expected {len(expected)} "
            f"({missing} missing, {extra} unexpected)"]

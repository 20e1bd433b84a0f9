"""Adversarial-events oracle parity: every events-consuming spec runs on
a crafted corpus of edge shapes — duplicate timestamps (window-order
ties), one hot user (skew), long same-type runs, zero values, single-
event users, a value at the decimal-domain edge — and must still match
its DuckDB oracle exactly. The synthetic events table is uniformly
random, so this suite is what protects the temporal operators from the
tie-break/skew failure class on a user's real event stream.

This suite found a real oracle bug on landing: the q64 quantile rank
used a negated-floor ceil idiom, but DuckDB's ``//`` TRUNCATES toward
zero, silently flooring the rank — invisible on the synthetic corpus
because its bucket counts are too large for an off-by-one rank to cross
a bucket boundary.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pandas as pd
import pytest

from canon_run import duck_views
from downscaledclimatedata_spark.plans import all_specs
from downscaledclimatedata_spark.sources.tables import TABLE_NAMES
from tests.conftest import SF_SMOKE, rows_to_sorted

SPECS = all_specs()


def _edge_events() -> pd.DataFrame:
    base = dt.datetime(2024, 1, 1)
    rows = []
    # hot user 1: 40 events in bursts of 8 sharing ONE timestamp each
    # (window-order ties) with long same-type runs
    for i in range(40):
        rows.append((i, base + dt.timedelta(minutes=(i // 8) * 10), 1,
                     "purchase" if i % 3 else "error", float(i % 5),
                     '{"k": 1}'))
    # sparse users 2-4: one-or-two events each, hours later
    for i in range(40, 50):
        rows.append((i, base + dt.timedelta(hours=5, minutes=i), 2 + i % 3,
                     "signup", 0.0, '{"k": 2}'))
    # a single-event user at the decimal(18,2)-domain edge, far future
    rows.append((50, base + dt.timedelta(days=400), 99, "error",
                 123456789.25, '{"k": 3}'))
    # value exactly zero alongside ties on (user, ts)
    rows.append((51, base, 1, "zero", 0.0, "{}"))
    df = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                     "event_type", "value", "props"])
    df = df.astype({"event_id": "int64", "user_id": "int64"})
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


_EVENT_SPECS = sorted(
    n for n, s in SPECS.items()
    if s.oracle is not None and "events" in s.oracle
)


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("edge_ev_sf"))
    for name in set(TABLE_NAMES) - {"events"}:
        shutil.copy(os.path.join(SF_SMOKE, f"{name}.parquet"),
                    os.path.join(d, f"{name}.parquet"))
    _edge_events().to_parquet(os.path.join(d, "events.parquet"), index=False)
    return d


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    yield duck_views(edge_dir)


@pytest.mark.parametrize("name", _EVENT_SPECS)
def test_event_spec_survives_edge_stream(name, spark, edge_dir, edge_duck):
    spec = SPECS[name]
    sdf = spec.spark(spark, edge_dir)
    spark_rows = sdf.collect()
    res = edge_duck.execute(spec.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(sdf.columns) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: rows spark={len(spark_rows)} duck={len(duck_rows)}")
    s_sorted = rows_to_sorted([tuple(r) for r in spark_rows], sdf.columns)
    d_sorted = rows_to_sorted(duck_rows, duck_cols)
    mismatches = [(i, a, b) for i, (a, b) in enumerate(zip(s_sorted, d_sorted))
                  if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"

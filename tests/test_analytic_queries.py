"""B-suite query tests: every registered query runs at sf0.001 and, where
cheap, is cross-checked against its DuckDB oracle (the same comparison the
driver performs at sf0.01)."""

from __future__ import annotations

import os

import duckdb
import pytest

from cdc_sink_spark.queries import analytic

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _assert_matches_oracle(spark, sf_dir, duck, name):
    sdf = analytic.QUERIES[name](spark, sf_dir)
    srows = sdf.collect()
    res = duck.execute(analytic.ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)}"

    def canon(rows, cols):
        # repr(), NOT round(): the driver's gate hashes raw float values,
        # so this fast local check must be exactly as strict — a rounded
        # compare would hide the sub-1e-6 fold-order drift the gate
        # exists to catch (the repo's never-round parity rule).
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = []
        for r in rows:
            vals = []
            for i in order:
                v = r[i]
                if isinstance(v, float):
                    v = repr(v)
                vals.append(str(v))
            out.append("|".join(vals))
        return sorted(out)

    assert canon([tuple(r) for r in srows], sdf.columns) == canon(drows, dcols), name


@pytest.mark.parametrize("name", sorted(analytic.QUERIES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    _assert_matches_oracle(spark, sf_dir, duck, name)


@pytest.mark.parametrize("name", ["events_sessionize", "range_join_bucketed"])
def test_subsecond_gaps_match_oracle(spark, tmp_path, name):
    """The oracles compare fractional epoch(ts). Each user's pair sits
    just past the threshold (1800.5 s for sessions, 300.5 s for the
    range join) while the whole-second floors differ by exactly the
    threshold, so truncating to seconds merges the session / keeps the
    pair. User 3's pair (299.5 s) is inside both thresholds."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 200_000)
    gaps = {1: 1800.5, 2: 300.5, 3: 299.5}
    rows = []
    for user, gap in gaps.items():
        for t in (t0, t0 + dt.timedelta(seconds=gap)):
            rows.append((len(rows), user, t))
    event_id, user_id, ts = zip(*rows)
    pq.write_table(
        pa.table({
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array(["click"] * len(rows)),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(['{"k": 1}'] * len(rows)),
        }),
        str(tmp_path / "events.parquet"),
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path / 'events.parquet'}'")
    _assert_matches_oracle(spark, str(tmp_path), con, name)


def test_q1_plan_shape(spark, sf_dir):
    """The pricing summary must push its shipdate filter into the parquet
    scan, prune to the 7 needed columns, and aggregate map-side first."""
    plan = analytic.q1_pricing_summary(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "partial_sum" in plan
    assert "l_orderkey" not in plan  # column pruning reached the scan


def test_q5_broadcasts_dims(spark, sf_dir):
    plan = (
        analytic.q5_local_supplier_volume(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan

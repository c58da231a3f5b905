"""Hand-computed micro-cases (FIXTURES.md §B.7): gate the session-window
semantics on a sequence small enough to verify by eye before trusting the
fixture-scale runs — gaps {5, 45, 10, 90, 1, 200, 3} minutes with a 30-min
threshold ⇒ new sessions open at gaps 45, 90 and 200 ⇒ exactly 4 sessions
of 2 events each: {e0,e1} {e2,e3} {e4,e5} {e6,e7}."""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

GAPS_MIN = [5, 45, 10, 90, 1, 200, 3]
EXPECTED_SESSIONS = 4
EXPECTED_SIZES = [2, 2, 2, 2]


def _micro_df(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    ts, cur = [t0], t0
    for g in GAPS_MIN:
        cur = cur + dt.timedelta(minutes=g)
        ts.append(cur)
    pdf = pd.DataFrame(
        {"user_id": [1] * len(ts), "event_id": range(len(ts)), "ts": ts}
    )
    return spark.createDataFrame(pdf)


def test_lag_cumsum_sessionization(spark):
    """The batch formulation used by s_session's oracle and udtf_apply."""
    df = _micro_df(spark)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = df.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sizes = sorted(
        r.n for r in sess.groupBy("session_id").agg(F.count("*").alias("n")).collect()
    )
    assert len(sizes) == EXPECTED_SESSIONS
    assert sizes == EXPECTED_SIZES


def test_session_window_matches_lag_cumsum(spark):
    """session_window() (the streaming-native op) must agree with the
    lag+cumsum formulation on the micro-case (SURVEY.md §7.3.5)."""
    df = _micro_df(spark)
    agg = df.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count("*").alias("n")
    )
    sizes = sorted(r.n for r in agg.collect())
    assert len(sizes) == EXPECTED_SESSIONS
    assert sizes == EXPECTED_SIZES


def test_stateful_v2_registers_and_matches_batch_when_available(spark, sf_dir):
    """transformWithStateInPandas needs the google.protobuf runtime; where
    present the v2 accumulator must equal the batch aggregate (and must be
    registered in the registry), where absent it must NOT be registered —
    a registered-but-crashing query is the one unacceptable state."""
    import pytest

    from reconciliation_hive_data_spark import registry
    from reconciliation_hive_data_spark.streaming.stream_ops import (
        _state_v2_available,
        s_stateful_v2,
    )

    registry.load_all_modules()
    assert ("s_stateful_v2" in registry.REGISTRY) == _state_v2_available()
    if not _state_v2_available():
        pytest.skip("google.protobuf not importable; state-v2 gated off")
    from pyspark.sql import functions as F

    from reconciliation_hive_data_spark.catalog import load
    got = {
        r.event_type: (r.n_events, r.sum_value)
        for r in s_stateful_v2(spark, sf_dir).collect()
    }
    want = {
        r.event_type: (r.n, r.s)
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert got == want


def test_udtf_apply_gap_is_compared_at_microsecond_precision(spark, tmp_path):
    """udtf_apply's 30-min gap test must see fractional seconds, as its
    oracle's epoch(ts) does. Truncating both ends to whole seconds turned
    a 1800.5 s gap (1000.2 s → 2800.7 s) and a 1800 s + 1 µs gap into
    1800 s, so no second session opened."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reconciliation_hive_data_spark import registry

    from .parity import compare

    base = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
    events = [  # (user_id, offset_us)
        (1, 1_000_200_000), (1, 2_800_700_000),  # gap 1800.5 s → 2 sessions
        (2, 5_000_000_000), (2, 6_800_000_000),  # gap 1800 s exactly → 1
        (3, 9_000_000_000), (3, 10_800_000_001),  # gap 1800 s + 1 µs → 2
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(events)), pa.int64()),
                "ts": pa.array([base + off for _, off in events], pa.timestamp("us")),
                "user_id": pa.array([u for u, _ in events], pa.int64()),
                "event_type": pa.array(["click"] * len(events), pa.string()),
                "value": pa.array([1.0] * len(events), pa.float64()),
                "props": pa.array(["{}"] * len(events), pa.string()),
            }
        ),
        f"{tmp_path}/events.parquet",
    )
    registry.load_all_modules()
    spec = registry.get("udtf_apply")
    df = spec.fn(spark, str(tmp_path))
    got = {r.user_id: (r.n_sessions, r.n_events) for r in df.collect()}
    assert got == {1: (2, 2), 2: (1, 2), 3: (2, 2)}
    assert not compare(df, spec.oracle, str(tmp_path), "udtf_apply")

"""As-of join: the union-tag kernel's three entry points vs a
per-conversation pandas merge_asof oracle (FIXTURES.md F5), plus
strict-past edge cases."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from protosc_spark.asof import asof_join, asof_join_time_split, asof_snapshot
from protosc_spark.datagen import generate_attribute_updates


@pytest.fixture(scope="module")
def updates(spark):
    return generate_attribute_updates(spark, n_conversations=120, seed=42).cache()


def _oracle(left_pdf, right_pdf, allow_exact, tolerance=None):
    left_pdf = left_pdf.sort_values(["ts", "conv_id"], kind="mergesort")
    right_pdf = right_pdf.sort_values(["ts", "conv_id"], kind="mergesort")
    out = pd.merge_asof(
        left_pdf,
        right_pdf,
        on="ts",
        by="conv_id",
        direction="backward",
        allow_exact_matches=allow_exact,
        tolerance=tolerance,
    )
    return out.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )


@pytest.mark.parametrize("impl", [asof_join, asof_join_time_split])
def test_asof_matches_pandas_oracle(impl, transcripts, updates):
    got = (
        impl(transcripts, updates, on="ts", by="conv_id")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    want = _oracle(transcripts.toPandas(), updates.toPandas(), allow_exact=False)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_strict_past_exact_ts_invisible(spark):
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a", "a"],
                "turn_idx": [0, 1],
                "ts": pd.to_datetime(["2025-01-01 00:00:10", "2025-01-01 00:01:00"]),
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a", "a"],
                "ts": pd.to_datetime(["2025-01-01 00:00:10", "2025-01-01 00:00:30"]),
                "attr_value": [1.0, 2.0],
            }
        )
    )
    for impl in (asof_join, asof_join_time_split):
        got = (
            impl(left, right).orderBy("turn_idx").select("attr_value").toPandas()
        )
        # update AT 00:00:10 is not visible at the 00:00:10 turn
        assert pd.isna(got["attr_value"][0])
        assert got["attr_value"][1] == 2.0
    # with exact matches allowed it becomes visible
    got = (
        asof_join(left, right, allow_exact_matches=True)
        .orderBy("turn_idx")
        .select("attr_value")
        .toPandas()
    )
    assert got["attr_value"][0] == 1.0


def test_no_updates_means_null(transcripts, updates):
    joined = asof_join(transcripts, updates)
    convs_without = (
        transcripts.select("conv_id")
        .distinct()
        .join(updates.select("conv_id").distinct(), "conv_id", "left_anti")
    )
    n_rows_without = transcripts.join(convs_without, "conv_id", "left_semi").count()
    assert n_rows_without > 0
    n_null = joined.where(F.col("attr_value").isNull()).join(
        convs_without, "conv_id", "left_semi"
    ).count()
    assert n_null == n_rows_without


def test_null_in_latest_update_stays_null_row_atomic(spark):
    """Row-atomic semantics: every output value comes from THE most
    recent right row — a NULL field in it must NOT be backfilled per
    column from an older update. Pinned for asof_join and across the
    time-split bucket boundary."""
    lpdf = pd.DataFrame(
        {
            "conv_id": ["a"],
            "turn_idx": [0],
            "ts": pd.to_datetime(["2025-01-03 00:00:00"]),
        }
    )
    rpdf = pd.DataFrame(
        {
            "conv_id": ["a", "a"],
            "ts": pd.to_datetime(["2025-01-01 01:00:00", "2025-01-02 01:00:00"]),
            "x": [1.0, None],
            "y": [2.0, 3.0],
        }
    )
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf)
    impls = [
        lambda: asof_join(left, right, value_cols=["x", "y"]),
        # split_seconds=86400: the NULL-x update is the bucket-boundary
        # carry row into the left row's (later) day bucket
        lambda: asof_join_time_split(
            left, right, value_cols=["x", "y"], split_seconds=86400
        ),
    ]
    for impl in impls:
        row = impl().collect()[0]
        assert row["x"] is None, "NULL in latest update must stay NULL"
        assert row["y"] == 3.0


class TestTimeSplit:
    """asof_join_time_split: equality with the window implementation at
    every split granularity, including splits small enough to cut
    conversations into many time buckets (boundary carry-in)."""

    @staticmethod
    def _key_rows(df):
        return {
            (r.conv_id, r.turn_idx): r.attr_value
            for r in df.select("conv_id", "turn_idx", "attr_value").collect()
        }

    @pytest.mark.parametrize("split_seconds", [10**9, 86400, 3600])
    def test_equals_window_impl(self, transcripts, updates, split_seconds):
        from protosc_spark.asof import asof_join_time_split

        exp = self._key_rows(
            asof_join(transcripts, updates, value_cols=["attr_value"])
        )
        got = self._key_rows(
            asof_join_time_split(
                transcripts, updates, value_cols=["attr_value"],
                split_seconds=split_seconds,
            )
        )
        assert got == exp

    def test_giant_conversation_actually_splits(self, spark):
        from protosc_spark.asof import asof_join_time_split

        # one conversation spanning 10 days, hourly turns; updates daily
        n = 240
        lpdf = pd.DataFrame(
            {
                "conv_id": ["giant"] * n,
                "turn_idx": range(n),
                "ts": pd.date_range("2025-01-01", periods=n, freq="1h"),
            }
        )
        rpdf = pd.DataFrame(
            {
                "conv_id": ["giant"] * 10,
                "ts": pd.date_range(
                    "2025-01-01 00:30:00", periods=10, freq="1D"
                ),
                "attr_value": [float(i) for i in range(10)],
            }
        )
        left, right = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
        got = self._key_rows(
            asof_join_time_split(
                left, right, value_cols=["attr_value"], split_seconds=86400
            )
        )
        exp = self._key_rows(asof_join(left, right, value_cols=["attr_value"]))
        assert got == exp
        # every turn after the first update sees the latest daily value,
        # even in buckets with no in-bucket update row (pure carry-in)
        assert got[("giant", 25)] == 1.0   # day 2, after 01-02 00:30 update
        assert got[("giant", 24)] == 0.0   # day 2 00:00, before its update
        assert got[("giant", 0)] is None


def test_asof_tolerance_bounds_staleness(spark):
    """A match older than the tolerance is nulled row-atomically; a
    fresh one passes; the no-tolerance result is unchanged."""
    from protosc_spark.asof import asof_join

    left = spark.createDataFrame(
        [
            ("c1", "2024-01-01 10:00:00"),
            ("c1", "2024-01-01 13:00:00"),
            ("c2", "2024-01-01 10:00:00"),
        ],
        "conv_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            ("c1", "2024-01-01 09:30:00", 1.0),  # fresh for 10:00, stale for 13:00
            ("c2", "2024-01-01 05:00:00", 2.0),  # stale at 1h tolerance
        ],
        "conv_id string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = {
        (r["conv_id"], str(r["ts"])): r["v"]
        for r in asof_join(left, right, tolerance_seconds=3600).collect()
    }
    assert out[("c1", "2024-01-01 10:00:00")] == 1.0
    assert out[("c1", "2024-01-01 13:00:00")] is None
    assert out[("c2", "2024-01-01 10:00:00")] is None

    base = {
        (r["conv_id"], str(r["ts"])): r["v"]
        for r in asof_join(left, right).collect()
    }
    assert base[("c1", "2024-01-01 13:00:00")] == 1.0
    assert base[("c2", "2024-01-01 10:00:00")] == 2.0


def test_asof_tolerance_matches_pandas_merge_asof(spark, events):
    """Tolerance semantics vs pandas merge_asof on the real events
    table (strict past + 1h tolerance)."""
    import pandas as pd
    from protosc_spark.asof import asof_join

    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pv")
    )
    got = (
        asof_join(
            clicks, purch, by="user_id", value_cols=["pv"],
            tolerance_seconds=3600,
        )
        .orderBy("event_id")
        .toPandas()
    )
    lc = clicks.orderBy("ts", "event_id").toPandas()
    rp = purch.orderBy("ts").toPandas().rename(columns={"ts": "rts"})
    want = pd.merge_asof(
        lc, rp, left_on="ts", right_on="rts", by="user_id",
        allow_exact_matches=False, tolerance=pd.Timedelta("1h"),
    ).sort_values("event_id")
    assert list(got["pv"].fillna(-1)) == list(want["pv"].fillna(-1))


def test_tolerance_join_and_time_split_match_pandas(transcripts, updates):
    """asof_join and time-split (where carry rows keep their ORIGINAL
    update ts, so staleness is measured across bucket boundaries too)
    null the same matches as pandas merge_asof with the same
    tolerance."""
    tol = 6 * 3600  # stale after 6 hours

    def key_rows(df):
        return {
            (r.conv_id, r.turn_idx): r.attr_value
            for r in df.select("conv_id", "turn_idx", "attr_value").collect()
        }

    base = key_rows(
        asof_join(transcripts, updates, value_cols=["attr_value"],
                  tolerance_seconds=tol)
    )
    split = key_rows(
        asof_join_time_split(transcripts, updates, value_cols=["attr_value"],
                             split_seconds=3600, tolerance_seconds=tol)
    )
    want = _oracle(
        transcripts.select("conv_id", "turn_idx", "ts").toPandas(),
        updates.select("conv_id", "ts", "attr_value").toPandas(),
        allow_exact=False,
        tolerance=pd.Timedelta(seconds=tol),
    )
    oracle = {
        (c, int(t)): None if pd.isna(v) else v
        for c, t, v in zip(want["conv_id"], want["turn_idx"], want["attr_value"])
    }
    assert base == split == oracle
    # the tolerance actually bites: strictly fewer non-null matches
    loose = key_rows(asof_join(transcripts, updates, value_cols=["attr_value"]))
    n_loose = sum(v is not None for v in loose.values())
    n_tight = sum(v is not None for v in base.values())
    assert 0 < n_tight < n_loose


def test_null_ts_update_never_matches(spark):
    """A right row with a NULL ts has no known time, so it is never in
    the strict past of a turn: it must not leak into the earliest turn
    (where it would sort first, NULLS FIRST) of any entry point."""
    import datetime as dt

    t = lambda s: dt.datetime(2025, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    left = spark.createDataFrame(
        [("a", 0, t(10)), ("a", 1, t(30))],
        "conv_id string, turn_idx int, ts timestamp",
    )
    right = spark.createDataFrame(
        [("a", None, 5.0), ("a", t(20), 1.0)],
        "conv_id string, ts timestamp, x double",
    )
    outs = {
        "asof_join": asof_join(left, right),
        "time_split": asof_join_time_split(left, right, split_seconds=3600),
        "snapshot": asof_snapshot(left, {"r": right}).withColumnRenamed(
            "r_x", "x"
        ),
    }
    for name, df in outs.items():
        got = {r["turn_idx"]: r["x"] for r in df.collect()}
        assert got == {0: None, 1: 1.0}, name


# -------------------------------------------------------- snapshot
class TestAsofSnapshot:
    def test_equals_composed_single_stream_joins(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from protosc_spark.asof import asof_join, asof_snapshot

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        clicks = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        pur = ev.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("value").alias("pv")
        )
        sig = ev.where(F.col("event_type") == "signup").select(
            "user_id", "ts", F.col("value").alias("sv")
        )
        snap = asof_snapshot(
            clicks, {"purchase": pur, "signup": sig}, by="user_id"
        )
        comp = asof_join(
            asof_join(clicks, pur, by="user_id"), sig, by="user_id"
        )
        a = sorted(
            map(
                tuple,
                snap.select(
                    "event_id", "purchase_pv", "signup_sv"
                ).collect(),
            )
        )
        b = sorted(
            map(tuple, comp.select("event_id", "pv", "sv").collect())
        )
        assert a == b and len(a) > 0

    def test_single_exchange_plan(self, spark, sf_dir):
        import re

        from pyspark.sql import functions as F

        from protosc_spark.asof import asof_snapshot

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        clicks = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        pur = ev.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("value").alias("pv")
        )
        sig = ev.where(F.col("event_type") == "signup").select(
            "user_id", "ts", F.col("value").alias("sv")
        )
        p = (
            asof_snapshot(
                clicks, {"a": pur, "b": sig}, by="user_id"
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert len(re.findall(r"Exchange (hash|range)", p)) == 1
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p

    def test_row_atomic_carry_and_strict_past(self, spark):
        import datetime as dt

        from protosc_spark.asof import asof_snapshot

        t = lambda s: dt.datetime(2025, 1, 1) + dt.timedelta(seconds=s)
        left = spark.createDataFrame(
            [("u", t(10)), ("u", t(20)), ("u", t(30))],
            "conv_id string, ts timestamp",
        )
        r1 = spark.createDataFrame(
            [("u", t(10), 1.0), ("u", t(25), None)],
            "conv_id string, ts timestamp, x double",
        )
        r2 = spark.createDataFrame(
            [("u", t(15), 7.0)],
            "conv_id string, ts timestamp, y double",
        )
        out = {
            r["ts"].second: r
            for r in asof_snapshot(
                left, {"a": r1, "b": r2}
            ).collect()
        }
        # strict past: r1@10 invisible to left@10
        assert out[10]["a_x"] is None and out[10]["b_y"] is None
        assert out[20]["a_x"] == 1.0 and out[20]["b_y"] == 7.0
        # row-atomic: the NULL inside r1@25 is carried as NULL, not
        # backfilled from r1@10
        assert out[30]["a_x"] is None
        assert out[30]["b_y"] == 7.0

    def test_per_stream_tolerance(self, spark):
        import datetime as dt

        from protosc_spark.asof import asof_snapshot

        t = lambda s: dt.datetime(2025, 1, 1) + dt.timedelta(seconds=s)
        left = spark.createDataFrame(
            [("u", t(100))], "conv_id string, ts timestamp"
        )
        r1 = spark.createDataFrame(
            [("u", t(10), 1.0)],
            "conv_id string, ts timestamp, x double",
        )
        r2 = spark.createDataFrame(
            [("u", t(95), 2.0)],
            "conv_id string, ts timestamp, y double",
        )
        out = asof_snapshot(
            left,
            {"a": r1, "b": r2},
            tolerance_seconds={"a": 30.0, "b": 30.0},
        ).collect()[0]
        assert out["a_x"] is None  # 90s stale > 30s bound
        assert out["b_y"] == 2.0  # 5s fresh


def test_asof_snapshot_duplicate_ts_tiebreak_matches_asof_join(spark):
    """Two updates of one stream at the SAME (entity, ts): both the
    single-stream kernel and the snapshot must resolve to the MAX
    value struct (asc ordering + last = max), independently per
    stream."""
    import datetime as dt

    from protosc_spark.asof import asof_join, asof_snapshot

    t = lambda s: dt.datetime(2025, 1, 1) + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [("u", t(100))], "conv_id string, ts timestamp"
    )
    r1 = spark.createDataFrame(
        [("u", t(50), 1.0), ("u", t(50), 9.0), ("u", t(50), 4.0)],
        "conv_id string, ts timestamp, x double",
    )
    r2 = spark.createDataFrame(
        [("u", t(60), 2.0), ("u", t(60), None)],
        "conv_id string, ts timestamp, y double",
    )
    snap = asof_snapshot(left, {"a": r1, "b": r2}).collect()[0]
    j = asof_join(
        asof_join(left, r1), r2
    ).collect()[0]
    assert snap["a_x"] == j["x"] == 9.0
    # non-null beats null at equal ts (nulls_first ordering, last wins)
    assert snap["b_y"] == j["y"] == 2.0

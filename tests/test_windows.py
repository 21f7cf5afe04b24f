"""Window operators cross-checked against a DuckDB oracle on the
driver-provided events table (FIXTURES.md F7) and pandas oracles on
synthetic transcripts."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from protosc_spark.windows import (
    rolling_agg,
    rolling_backfill,
    rolling_time_agg,
    session_summary,
    sessionize,
    with_lag_lead,
)

EV = "/root/testdata/sf0.001/events.parquet"


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{EV}'")
    return con.execute(sql).df()


def _spark_pdf(df, order):
    return (
        df.orderBy(*order)
        .toPandas()
        .reset_index(drop=True)
    )


def test_lag_lead_vs_duckdb(events):
    got = _spark_pdf(
        with_lag_lead(
            events.select("user_id", "ts", "value"),
            {"value": "value"},
            entity="user_id",
            order="ts",
        ),
        ["user_id", "ts"],
    )
    want = _duck(
        """
        SELECT user_id, ts, value,
               lag(value)  OVER (PARTITION BY user_id ORDER BY ts) AS value_lag1,
               lead(value) OVER (PARTITION BY user_id ORDER BY ts) AS value_lead1
        FROM events ORDER BY user_id, ts
        """
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_rolling_agg_vs_duckdb(events):
    got = _spark_pdf(
        rolling_agg(
            events.select("user_id", "ts", "value"),
            {"v_sum5": F.sum("value"), "v_avg5": F.avg("value")},
            n_rows=5,
            entity="user_id",
            order="ts",
        ),
        ["user_id", "ts"],
    )
    want = _duck(
        """
        SELECT user_id, ts, value,
               sum(value) OVER w AS v_sum5,
               avg(value) OVER w AS v_avg5
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, ts
        """
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-9)


def test_rolling_time_agg_vs_duckdb(events):
    got = _spark_pdf(
        rolling_time_agg(
            events.select("user_id", "ts", "value"),
            {"v_cnt_1h": F.count(F.lit(1))},
            trailing_seconds=3600,
            entity="user_id",
        ),
        ["user_id", "ts"],
    )
    want = _duck(
        """
        SELECT user_id, ts, value,
               count(*) OVER (PARTITION BY user_id ORDER BY ts
                              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                              AND CURRENT ROW) AS v_cnt_1h
        FROM events ORDER BY user_id, ts
        """
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_backfill_vs_duckdb(events):
    purchases = events.withColumn(
        "purchase_value",
        F.when(F.col("event_type") == "purchase", F.col("value")),
    ).select("user_id", "ts", "purchase_value")
    got = _spark_pdf(
        rolling_backfill(
            purchases, "purchase_value", out="last_purchase",
            entity="user_id", order="ts",
        ),
        ["user_id", "ts"],
    )
    want = _duck(
        """
        SELECT user_id, ts,
               CASE WHEN event_type = 'purchase' THEN value END AS purchase_value,
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS last_purchase
        FROM events ORDER BY user_id, ts
        """
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_backfill_strict_past_excludes_current(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 3,
            "turn_idx": [0, 1, 2],
            "x": [1.0, None, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        rolling_backfill(df, "x", out="x_prev", strict_past=True)
        .orderBy("turn_idx")
        .toPandas()
    )
    assert got["x_prev"].tolist()[0] is None or pd.isna(got["x_prev"][0])
    assert got["x_prev"][1] == 1.0
    assert got["x_prev"][2] == 1.0  # current row's 3.0 not visible


def test_sessionize_vs_duckdb(events):
    got = _spark_pdf(
        sessionize(
            events.select("user_id", "ts"),
            gap_seconds=1800,
            entity="user_id",
        ),
        ["user_id", "ts"],
    )
    want = _duck(
        """
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM flagged ORDER BY user_id, ts
        """
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_session_boundaries_on_transcripts(transcripts):
    # datagen injects a >30min gap at every turn_idx % 17 == 13 → those
    # rows must start a new session
    s = sessionize(transcripts, gap_seconds=1800, order=["turn_idx"])
    bad = (
        with_lag_lead(
            s.select("conv_id", "turn_idx", "session_id"),
            {"sid": "session_id"},
            order="turn_idx",
        )
        .where(
            (F.col("turn_idx") % 17 == 13)
            & (F.col("session_id") == F.col("sid_lag1"))
        )
        .count()
    )
    assert bad == 0


def test_session_summary(transcripts):
    s = sessionize(transcripts, gap_seconds=1800, order=["turn_idx"])
    summ = session_summary(s)
    total = summ.agg(F.sum("n_rows")).first()[0]
    assert total == transcripts.count()
    assert summ.where(F.col("duration_s") < 0).count() == 0


def test_funnel_hand_fixture(spark):
    """Strict ordering: a click BEFORE the first view does not count;
    later steps stay NULL once a step is missing."""
    from protosc_spark.windows import funnel

    rows = [
        # user 0: full funnel in order
        (0, "2024-01-01 10:00:00", "view"),
        (0, "2024-01-01 10:05:00", "click"),
        (0, "2024-01-01 10:10:00", "purchase"),
        # user 1: click precedes the first view -> funnel stops at view
        (1, "2024-01-01 09:00:00", "click"),
        (1, "2024-01-01 09:30:00", "view"),
        (1, "2024-01-01 08:00:00", "purchase"),
        # user 2: view+click, purchase before click -> stages 2
        (2, "2024-01-01 11:00:00", "view"),
        (2, "2024-01-01 11:30:00", "click"),
        (2, "2024-01-01 11:10:00", "purchase"),
        # user 3: no view at all
        (3, "2024-01-01 12:00:00", "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["user_id"]: r for r in funnel(df, ["view", "click", "purchase"]).collect()}
    assert out[0]["stages"] == 3
    assert out[1]["stages"] == 1 and out[1]["click_ts"] is None
    assert out[2]["stages"] == 2 and out[2]["purchase_ts"] is None
    assert out[3]["stages"] == 0 and out[3]["view_ts"] is None
    assert len(out) == 4


def test_funnel_single_exchange(spark, events):
    """All chained conditional mins share ONE user_id exchange."""
    from protosc_spark.windows import funnel

    p = (
        funnel(events, ["view", "click", "purchase"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p.count("Exchange hashpartitioning(user_id") <= 2  # windows + distinct
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p


def test_transition_counts_matches_pandas_with_ties(spark):
    """transition_counts == a pandas groupby/shift oracle, including
    same-timestamp events disambiguated by the event_id tie-break and
    single-event users (no pairs)."""
    import pandas as pd

    from protosc_spark.windows import transition_counts

    rows = [
        # user 1: a -> b -> b -> c ; ties on ts resolved by event_id
        (1, 1, "2024-01-01 00:00:00", "a"),
        (2, 1, "2024-01-01 00:00:01", "b"),
        (3, 1, "2024-01-01 00:00:01", "b"),
        (4, 1, "2024-01-01 00:00:02", "c"),
        # user 2: c -> a
        (5, 2, "2024-01-01 00:00:00", "c"),
        (6, 2, "2024-01-01 00:00:05", "a"),
        # user 3: single event, no transitions
        (7, 3, "2024-01-01 00:00:00", "a"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r["from_state"], r["to_state"]): (r["n_transitions"], r["rate"])
        for r in transition_counts(df).collect()
    }
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type"]
    ).sort_values(["user_id", "ts", "event_id"])
    pdf["prev"] = pdf.groupby("user_id")["event_type"].shift(1)
    pairs = pdf.dropna(subset=["prev"])
    want_counts = pairs.groupby(["prev", "event_type"]).size()
    assert len(got) == len(want_counts)
    for (f, t), n in want_counts.items():
        n_from = want_counts[want_counts.index.get_level_values(0) == f].sum()
        assert got[(f, t)] == (n, round(n / n_from, 6))
    # rates sum to 1 per from_state
    for f in {k[0] for k in got}:
        assert abs(sum(v[1] for k, v in got.items() if k[0] == f) - 1.0) < 1e-9


def test_retention_cohorts_matches_pandas(spark):
    """retention_cohorts == a pandas oracle on a fixture with two
    cohorts, skipped weeks, and multi-event weeks (distinct per
    (entity, week) counted once)."""
    import pandas as pd

    from protosc_spark.windows import retention_cohorts

    rows = [
        # user 1: first event week of Jan 1 (Mon), active weeks 0, 1, 3
        (1, "2024-01-03 10:00:00"), (1, "2024-01-04 11:00:00"),
        (1, "2024-01-09 10:00:00"), (1, "2024-01-24 10:00:00"),
        # user 2: same cohort, only week 0
        (2, "2024-01-05 09:00:00"),
        # user 3: cohort week of Jan 8, active weeks 0 and 2
        (3, "2024-01-10 08:00:00"), (3, "2024-01-22 08:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {
        (str(r["cohort"])[:10], r["period_offset"]): r["n_active"]
        for r in retention_cohorts(df).collect()
    }
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["week"] = pdf["ts"].dt.to_period("W-SUN").dt.start_time
    cohort = pdf.groupby("user_id")["week"].min().rename("cohort")
    act = pdf[["user_id", "week"]].drop_duplicates().join(
        cohort, on="user_id"
    )
    act["off"] = ((act["week"] - act["cohort"]).dt.days // 7)
    want = act.groupby([act["cohort"].dt.strftime("%Y-%m-%d"), "off"]).size()
    assert got == {(c, o): n for (c, o), n in want.items()}
    # cohort sizes: week-0 cell equals the number of entities cohorted
    assert got[("2024-01-01", 0)] == 2 and got[("2024-01-08", 0)] == 1
    assert ("2024-01-01", 2) not in got  # skipped week absent


def test_windowed_funnel_anchor_semantics(spark):
    """within_seconds bounds every later step to the FIRST step's
    timestamp: a click inside the window converts, a purchase outside
    it does not — and an early view anchors the window even when a
    later view would have allowed the conversion."""
    from protosc_spark.windows import funnel

    rows = [
        # user 1: view@0, click@+60s, purchase@+2h -> purchase outside 1h
        (1, "2024-01-01 00:00:00", "view"),
        (1, "2024-01-01 00:01:00", "click"),
        (1, "2024-01-01 02:00:00", "purchase"),
        # user 2: all inside the hour
        (2, "2024-01-01 00:00:00", "view"),
        (2, "2024-01-01 00:30:00", "click"),
        (2, "2024-01-01 00:59:00", "purchase"),
        # user 3: FIRST view anchors; the later view is ignored, so
        # the click lands outside the window
        (3, "2024-01-01 00:00:00", "view"),
        (3, "2024-01-01 05:00:00", "view"),
        (3, "2024-01-01 05:01:00", "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r["user_id"]: r["stages"]
        for r in funnel(
            df, ["view", "click", "purchase"], within_seconds=3600
        ).collect()
    }
    assert got == {1: 2, 2: 3, 3: 1}
    # and without the window, user 1 fully converts
    unb = {
        r["user_id"]: r["stages"]
        for r in funnel(df, ["view", "click", "purchase"]).collect()
    }
    assert unb == {1: 3, 2: 3, 3: 2}


# --- conversation_features ---


def test_conversation_features_hand_fixture(spark):
    """Two tiny conversations with hand-computed aggregates."""
    import datetime as dt

    from protosc_spark.windows import conversation_features

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # conv a: user -> assistant -> tool(search) -> assistant
        ("a", 0, "user", "hi there", None, ts(0)),
        ("a", 1, "assistant", "hello", None, ts(10)),
        ("a", 2, "tool", "result one two", "search", ts(40)),
        ("a", 3, "assistant", "done", None, ts(2000)),
        # conv b: user -> user (no alternation), one turn pair
        ("b", 0, "user", "x y z", None, ts(100)),
        ("b", 1, "user", "w", None, ts(100)),  # zero gap
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    got = (
        conversation_features(df, session_gap_s=1800)
        .orderBy("conv_id")
        .toPandas()
    )
    a = got.iloc[0]
    assert a["conv_id"] == "a"
    assert a["n_turns"] == 4
    assert (a["n_user"], a["n_assistant"], a["n_tool"]) == (1, 2, 1)
    assert a["n_distinct_tools"] == 1
    assert a["total_tokens"] == 2 + 1 + 3 + 1
    assert abs(a["mean_gap_s"] - (10 + 30 + 1960) / 3) < 1e-6
    assert abs(a["max_gap_s"] - 1960.0) < 1e-6
    assert a["n_session_breaks"] == 1  # only the 1960 s gap
    assert abs(a["alternation_rate"] - 1.0) < 1e-6  # every step switches
    assert a["duration_s"] == 2000
    b = got.iloc[1]
    assert b["n_turns"] == 2
    assert b["n_distinct_tools"] == 0
    assert abs(b["alternation_rate"] - 0.0) < 1e-6
    assert abs(b["mean_gap_s"] - 0.0) < 1e-6
    assert b["n_session_breaks"] == 0
    assert b["duration_s"] == 0


def test_conversation_features_dirty_equals_clean(spark):
    """stable_dedup(dirty) -> features must be row-identical to
    clean -> features (the gate composition's invariant)."""
    from protosc_spark.datagen import (
        generate_transcripts,
        generate_transcripts_dirty,
    )
    from protosc_spark.ordering import stable_dedup
    from protosc_spark.windows import conversation_features

    clean = generate_transcripts(spark, n_conversations=40, seed=7)
    dirty = generate_transcripts_dirty(spark, n_conversations=40, seed=7)
    a = (
        conversation_features(clean).orderBy("conv_id").toPandas()
    )
    b = (
        conversation_features(stable_dedup(dirty))
        .orderBy("conv_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


def test_conversation_features_single_exchange(spark):
    """The window and the groupBy share the conv_id partitioning:
    exactly ONE exchange in the whole plan, and no Python stages."""
    from protosc_spark.datagen import generate_transcripts
    from protosc_spark.windows import conversation_features

    tr = generate_transcripts(spark, n_conversations=10, seed=7)
    p = conversation_features(tr)._jdf.queryExecution().executedPlan().toString()
    n_ex = p.count("Exchange") - p.count("Exchange SinglePartition")
    # datagen itself contributes a conv_id window (cumulative gap sum);
    # it partitions on the same key, so the whole job stays at one
    # conv_id hash exchange.
    assert n_ex == 1, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


# --- per-slice daily-volume trend ---


def test_volume_trend_recovers_planted_line(spark):
    """Daily counts 1/3/5 on days 0/1/2 lie exactly on y = 2x + 1:
    slope 2, intercept 1, r2 1."""
    from protosc_spark.windows import volume_trend

    rows = []
    for day, n in (("1970-01-01", 1), ("1970-01-02", 3),
                   ("1970-01-03", 5)):
        rows += [("a", f"{day} 0{i}:00:00") for i in range(n)]
    df = spark.createDataFrame(rows, "g string, ts_s string").select(
        "g", F.col("ts_s").cast("timestamp").alias("ts")
    )
    r = volume_trend(df, "g").collect()[0]
    assert r.n_days == 3
    assert abs(r.slope - 2.0) < 1e-12
    assert abs(r.intercept - 1.0) < 1e-12
    assert abs(r.r2 - 1.0) < 1e-12


def test_volume_trend_degenerate_slices(spark):
    """One-day slice: zero x-variance, slope/intercept/r2 NULL.
    Flat slice (same count every day): slope 0 exactly, r2 NULL
    (zero y-variance)."""
    from protosc_spark.windows import volume_trend

    rows = [("one", "1970-01-05 00:00:00")] + [
        ("flat", f"1970-01-0{d} 00:00:00") for d in (1, 2, 3)
    ]
    df = spark.createDataFrame(rows, "g string, ts_s string").select(
        "g", F.col("ts_s").cast("timestamp").alias("ts")
    )
    out = {r.g: r for r in volume_trend(df, "g").collect()}
    assert out["one"].slope is None and out["one"].r2 is None
    assert out["flat"].slope == 0.0 and out["flat"].r2 is None


def test_volume_trend_plan_no_python_no_window(spark):
    from protosc_spark.windows import volume_trend

    df = spark.createDataFrame(
        [("a", "1970-01-01 00:00:00")], "g string, ts_s string"
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))
    plan = (
        volume_trend(df, "g")._jdf.queryExecution().executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan


# --- top-k n-step paths ---


def test_top_paths_counts_and_entity_boundary(spark):
    """Two users sharing the stream A,B,C,A,B,C: trigrams per user
    are A>B>C, B>C>A, C>A>B, A>B>C — so A>B>C counts 4 across both,
    the others 2 each; no path spans users (each stream yields
    exactly len-2 paths)."""
    from protosc_spark.windows import top_paths

    rows = [
        (u, i, f"1970-01-01 00:0{i}:00", s)
        for u in (1, 2)
        for i, s in enumerate("ABCABC")
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_s string, "
        "event_type string"
    ).select(
        "user_id", "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type",
    )
    out = top_paths(df, n=3, k=10).collect()
    got = {r.path: r.n_occurrences for r in out}
    assert got == {"A > B > C": 4, "B > C > A": 2, "C > A > B": 2}
    assert sum(got.values()) == 2 * (6 - 2)
    # deterministic ties: equal counts ranked by path ascending
    assert [r.path for r in out] == [
        "A > B > C", "B > C > A", "C > A > B"
    ]


def test_top_paths_plan_no_python(spark):
    from protosc_spark.windows import top_paths

    df = spark.createDataFrame(
        [(1, 1, "1970-01-01 00:00:00", "A")],
        "user_id long, event_id long, ts_s string, event_type string",
    ).select(
        "user_id", "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type",
    )
    plan = (
        top_paths(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# --- CUSUM change-point detection ---


def test_cusum_detects_planted_step(spark):
    """10 days at 10 rows then 10 days at 30: mu=20,
    sigma=sqrt(40000/380); |z|=10/sigma each day, both tracks climb
    by |z|-0.5 per day on their half; S- crosses h=4 first at the
    9th low day (epoch day 8)."""
    import math

    from protosc_spark.windows import volume_cusum

    rows = []
    for d in range(20):
        ts = f"1970-01-{d + 1:02d} 00:00:00"
        rows += [("g", ts)] * (10 if d < 10 else 30)
    df = spark.createDataFrame(
        rows, "g string, ts_s string"
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))
    r = volume_cusum(df, "g").collect()[0]
    sigma = math.sqrt(40000 / 380)
    step = 10 / sigma - 0.5
    assert r.n_days == 20 and abs(r.mu - 20.0) < 1e-12
    assert abs(r.sigma - sigma) < 1e-12
    assert abs(r.max_sn - 10 * step) < 1e-9
    assert abs(r.max_sp - 10 * step) < 1e-9
    assert r.alarm_day == 8


def test_cusum_flat_and_single_day_never_alarm(spark):
    """Flat series: sigma NULL (zero variance) => z=0, tracks stay
    0, no alarm. Single day: same via the n>1 guard."""
    from protosc_spark.windows import volume_cusum

    rows = [
        ("flat", f"1970-01-0{d} 00:00:00") for d in (1, 2, 3)
    ] + [("one", "1970-01-01 00:00:00")]
    df = spark.createDataFrame(
        rows, "g string, ts_s string"
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))
    out = {r.g: r for r in volume_cusum(df, "g").collect()}
    for g in ("flat", "one"):
        assert out[g].sigma is None
        assert out[g].max_sp == 0.0 and out[g].max_sn == 0.0
        assert out[g].alarm_day is None


def test_cusum_plan_no_python(spark):
    from protosc_spark.windows import volume_cusum

    df = spark.createDataFrame(
        [("g", "1970-01-01 00:00:00")], "g string, ts_s string"
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))
    plan = (
        volume_cusum(df, "g")._jdf.queryExecution().executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# --- state-mix entropy / evenness ---


def test_state_entropy_known_mixes(spark):
    """Uniform 4-way mix: H = ln 4, evenness 1. Single state:
    H = 0, evenness NULL. 3:1 two-way mix: H = -(3/4)ln(3/4)
    - (1/4)ln(1/4)."""
    import math

    from protosc_spark.windows import state_entropy

    rows = (
        [("u", s) for s in "ABCD"]
        + [("one", "A")] * 5
        + [("skew", "A")] * 3
        + [("skew", "B")]
    )
    df = spark.createDataFrame(rows, "g string, event_type string")
    out = {r.g: r for r in state_entropy(df, "g").collect()}
    assert abs(out["u"].entropy - math.log(4)) < 1e-12
    assert abs(out["u"].evenness - 1.0) < 1e-12
    assert out["one"].entropy == 0.0 and out["one"].evenness is None
    h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert abs(out["skew"].entropy - h) < 1e-12
    assert abs(out["skew"].evenness - h / math.log(2)) < 1e-12
    assert (out["u"].n, out["u"].k) == (4, 4)
    assert (out["skew"].n, out["skew"].k) == (4, 2)


def test_state_entropy_drops_null_states(spark):
    from protosc_spark.windows import state_entropy

    df = spark.createDataFrame(
        [("g", "A"), ("g", None), ("g", "B")],
        "g string, event_type string",
    )
    r = state_entropy(df, "g").collect()[0]
    assert (r.n, r.k) == (2, 2)


# --- co-occurrence association (support / confidence / lift) ---


def test_cooccurrence_hand_computed(spark):
    """4 entities: {A,B}, {A,B}, {A}, {B,C}. Pair (A,B): n_ab=2,
    n_a=3, n_b=3, N=4 -> support .5, conf 2/3, lift 2*4/(3*3)=8/9.
    Pair (B,C): n_ab=1, lift 4/3. Pair (A,C) absent (no co-entity).
    Presence SETS: duplicate events collapse."""
    from protosc_spark.windows import cooccurrence_lift

    rows = (
        [(1, "A"), (1, "B"), (1, "B")]  # dup B collapses
        + [(2, "A"), (2, "B")]
        + [(3, "A")]
        + [(4, "B"), (4, "C")]
    )
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {(r.state_a, r.state_b): r
           for r in cooccurrence_lift(df).collect()}
    assert set(out) == {("A", "B"), ("B", "C")}
    ab = out[("A", "B")]
    assert (ab.n_a, ab.n_b, ab.n_ab) == (3, 3, 2)
    assert abs(ab.support - 0.5) < 1e-12
    assert abs(ab.confidence - 2 / 3) < 1e-12
    assert abs(ab.lift - 8 / 9) < 1e-12
    bc = out[("B", "C")]
    assert (bc.n_a, bc.n_b, bc.n_ab) == (3, 1, 1)
    assert abs(bc.lift - 4 / 3) < 1e-12


def test_cooccurrence_min_pairs_prunes(spark):
    from protosc_spark.windows import cooccurrence_lift

    rows = [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "B"),
            (3, "C")]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = cooccurrence_lift(df, min_pairs=2).collect()
    assert [(r.state_a, r.state_b) for r in out] == [("A", "B")]


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------

def _pagerank_replay(edges, n_iter=5, scale=10**12, d=85):
    """Independent integer replay of the documented recurrence."""
    from collections import defaultdict

    w = defaultdict(int)
    for u, v, wt in edges:
        w[(u, v)] += wt
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    n = len(nodes)
    outw = defaultdict(int)
    for (u, _), wt in w.items():
        outw[u] += wt
    pr = {nd: scale // n for nd in nodes}
    tele = ((100 - d) * scale) // (100 * n)
    for _ in range(n_iter):
        inflow = defaultdict(int)
        for (u, v), wt in w.items():
            inflow[v] += (pr[u] * wt) // outw[u]
        dang = sum(pr[nd] for nd in nodes if nd not in outw)
        share = dang // n
        pr = {
            nd: tele + (d * (inflow[nd] + share)) // 100
            for nd in nodes
        }
    return pr


def test_pagerank_matches_integer_replay_with_dangling(spark):
    from protosc_spark.windows import pagerank

    # c is dangling (no out-edges); parallel a->b edges test combining
    edges = [
        ("a", "b", 3), ("a", "b", 2), ("b", "c", 4), ("a", "c", 1),
        ("b", "a", 2), ("d", "a", 7),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w int")
    got = {
        r.node: r.pr_int
        for r in pagerank(
            df, src="src", dst="dst", weight="w"
        ).collect()
    }
    assert got == _pagerank_replay(edges)
    # mass conservation within floor losses
    assert 0 <= 10**12 - sum(got.values()) < 5 * (len(got) + 100)


def test_pagerank_sink_attracts_mass(spark):
    """Star into a sink: the sink must outrank every spoke."""
    from protosc_spark.windows import pagerank

    edges = [(f"s{i}", "hub", 1) for i in range(5)]
    df = spark.createDataFrame(edges, "src string, dst string, w int")
    got = {r.node: r.pr for r in pagerank(df, "src", "dst", "w").collect()}
    assert all(got["hub"] > got[f"s{i}"] for i in range(5))
    assert got == dict(
        (k, v / 1e12)
        for k, v in _pagerank_replay(edges).items()
    )


def test_pagerank_unweighted_and_validation(spark):
    import pytest

    from protosc_spark.windows import pagerank

    df = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "b")], "src string, dst string"
    )
    # weight=None counts edge multiplicity: a->b weight 2, b->a 1
    got = {
        r.node: r.pr_int
        for r in pagerank(df, "src", "dst", weight=None).collect()
    }
    assert got == _pagerank_replay([("a", "b", 2), ("b", "a", 1)])
    with pytest.raises(ValueError):
        pagerank(df, "src", "dst", None, damping_pct=100)


# ---------------------------------------------------------------------------
# interarrival_stats
# ---------------------------------------------------------------------------

def test_interarrival_matches_bruteforce(spark):
    import datetime as dt

    import numpy as np

    from protosc_spark.windows import interarrival_stats

    base = dt.datetime(2024, 1, 1)
    # user 1: irregular gaps incl. sub-second; user 2: perfectly
    # periodic (burstiness -> -1 is approached, CV = 0 exact);
    # user 3: single event (no gaps)
    offs = {1: [0.0, 1.5, 2.0, 10.25, 11.0], 2: [0.0, 5.0, 10.0, 15.0],
            3: [3.0]}
    rows = [
        (eid, base + dt.timedelta(seconds=s), uid)
        for eid, (uid, s) in enumerate(
            (u, s) for u, ss in offs.items() for s in ss
        )
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint"
    )
    got = {
        r.user_id: r
        for r in interarrival_stats(df).collect()
    }
    for uid in (1, 2):
        gaps = np.diff(np.array(offs[uid]) * 1e6).astype("int64")
        mu, sd = gaps.mean(), gaps.std(ddof=1)
        r = got[uid]
        assert r.n_gaps == len(gaps)
        assert abs(r.mean_gap_s - mu / 1e6) < 1e-12
        assert abs(r.cv - sd / mu) < 1e-12
        assert abs(r.burstiness - (sd - mu) / (sd + mu)) < 1e-12
    assert 3 not in got  # no gaps -> no row
    assert got[2].cv == 0.0 and got[2].burstiness == -1.0


# ---------------------------------------------------------------------------
# kaplan_meier
# ---------------------------------------------------------------------------

def test_kaplan_meier_hand_fixture(spark):
    from protosc_spark.windows import kaplan_meier

    durs = [(3, 1), (3, 1), (3, 0), (5, 1), (7, 0), (9, 1), (9, 1),
            (11, 0), (2, 0)]
    df = spark.createDataFrame(durs, "duration int, event int")
    got = {r.t: r for r in kaplan_meier(df).collect()}
    # censor at 2 leaves S=1; t=3: n=8,d=2 -> .75; t=5: n=5,d=1 -> .6;
    # t=7 censor-only keeps .6; t=9: n=3,d=2 -> .2; t=11 censor keeps
    assert [got[t].n_risk for t in (2, 3, 5, 7, 9, 11)] == [9, 8, 5, 4, 3, 1]
    for t, s in [(2, 1.0), (3, 0.75), (5, 0.6), (7, 0.6), (9, 0.2),
                 (11, 0.2)]:
        assert abs(got[t].survival - s) < 1e-12, t
    assert got[3].n_events == 2 and got[3].n_censored == 1


def test_kaplan_meier_all_die_reaches_exact_zero(spark):
    from protosc_spark.windows import kaplan_meier

    df = spark.createDataFrame(
        [(1, 1), (2, 1), (2, 1)], "duration int, event int"
    )
    got = {r.t: r.survival for r in kaplan_meier(df).collect()}
    assert abs(got[1] - 2 / 3) < 1e-12
    assert got[2] == 0.0  # d == n_risk handled as exact zero, no log(0)


def test_kaplan_meier_no_censoring_matches_ecdf(spark):
    """With zero censoring KM reduces to 1 - ECDF (staircase)."""
    from protosc_spark.windows import kaplan_meier

    durs = [1, 1, 2, 4, 4, 4, 6]
    df = spark.createDataFrame(
        [(d, 1) for d in durs], "duration int, event int"
    )
    got = {r.t: r.survival for r in kaplan_meier(df).collect()}
    n = len(durs)
    for t in sorted(set(durs)):
        want = sum(1 for d in durs if d > t) / n
        assert abs(got[t] - want) < 1e-12, t


# --- EWMA control chart ---


def _ewma_bruteforce(ys, alpha=0.3, limit=3.0):
    """Python replay of the volume_ewma fold over one series."""
    import math

    n = len(ys)
    mu = sum(ys) / n
    var_num = n * sum(y * y for y in ys) - sum(ys) ** 2
    sigma = (
        math.sqrt(var_num / (n * (n - 1)))
        if n > 1 and var_num > 0
        else None
    )
    beta = 1.0 - alpha
    z, w, maxd, alarm = mu, 1.0, 0.0, None
    for x, y in enumerate(ys):
        z = alpha * y + beta * z
        w = w * (beta * beta)
        if sigma is not None:
            d = abs(z - mu) / (
                sigma * math.sqrt(alpha / (2.0 - alpha) * (1.0 - w))
            )
        else:
            d = 0.0
        maxd = max(maxd, d)
        if alarm is None and d > limit:
            alarm = x
    return mu, sigma, z, maxd, alarm


def _daily_df(spark, counts, g="g"):
    rows = []
    for d, c in enumerate(counts):
        ts = f"1970-01-{d + 1:02d} 00:00:00"
        rows += [(g, ts)] * c
    return spark.createDataFrame(
        rows, "g string, ts_s string"
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))


def test_ewma_matches_bruteforce_and_alarms_on_small_shift(spark):
    """16 steady days then a 4-day elevated tail: the EWMA track
    crosses L=3 on the final day (self-standardization against the
    shift-contaminated in-series sigma caps symmetric splits below
    3 — a SHORT anomaly is exactly what EWMA flags), and every
    output must equal the exact Python replay of the fold."""
    from protosc_spark.windows import volume_ewma

    counts = [20] * 16 + [40] * 4
    r = volume_ewma(_daily_df(spark, counts), "g").collect()[0]
    mu, sigma, z, maxd, alarm = _ewma_bruteforce(counts)
    assert r.n_days == 20
    assert r.mu == mu and r.sigma == sigma
    assert r.ewma_final == z and r.max_dev == maxd
    assert alarm is not None and r.alarm_day == alarm


def test_ewma_flat_single_day_and_steady_no_alarm(spark):
    from protosc_spark.windows import volume_ewma

    df = _daily_df(spark, [5, 5, 5], g="flat").unionByName(
        _daily_df(spark, [9], g="one")
    )
    out = {r.g: r for r in volume_ewma(df, "g").collect()}
    for g in ("flat", "one"):
        assert out[g].sigma is None
        assert out[g].max_dev == 0.0 and out[g].alarm_day is None
    # a noisy-but-stationary series must not alarm
    counts = [18, 22, 20, 19, 21, 20, 18, 22, 21, 19]
    r = volume_ewma(_daily_df(spark, counts), "g").collect()[0]
    mu, sigma, z, maxd, alarm = _ewma_bruteforce(counts)
    assert alarm is None and r.alarm_day is None
    assert r.max_dev == maxd and r.ewma_final == z


def test_ewma_plan_no_python(spark):
    from protosc_spark.windows import volume_ewma

    plan = (
        volume_ewma(_daily_df(spark, [1]), "g")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# --- daily-volume autocorrelation ---


def _acf_bruteforce(xs_ys, max_lag):
    """Exact ACF over a possibly-gappy (x, y) daily series."""
    n = len(xs_ys)
    s = sum(y for _, y in xs_ys)
    d = {x: n * y - s for x, y in xs_ys}
    den = sum(v * v for v in d.values())
    out = {}
    for k in range(1, max_lag + 1):
        ps = [(d[x], d[x + k]) for x in d if x + k in d]
        if ps:
            out[k] = (
                len(ps),
                sum(a * b for a, b in ps) / den if den else None,
            )
    return out


def test_acf_matches_bruteforce_weekly_rhythm(spark):
    """21 days with a period-7 rhythm: lag-7 ACF must dominate and
    every lag must equal the exact integer-deviation replay."""
    from protosc_spark.windows import volume_acf

    counts = [30, 10, 12, 11, 13, 10, 28] * 3
    r = {
        row.lag: row
        for row in volume_acf(_daily_df(spark, counts), "g").collect()
    }
    exp = _acf_bruteforce(list(enumerate(counts)), 7)
    assert set(r) == set(exp)
    for k, (npairs, acf) in exp.items():
        assert r[k].n_pairs == npairs
        assert abs(r[k].acf - acf) < 1e-12
    assert r[7].acf > max(r[k].acf for k in range(2, 7))


def test_acf_gappy_constant_and_short(spark):
    from protosc_spark.windows import volume_acf
    from pyspark.sql import functions as SF

    # gappy: days 0,1,2,4,5 (day 3 missing) -> lag-1 has 3 pairs,
    # lag-2 has 2 (0-2, 3?-no) wait: pairs (0,1),(1,2),(4,5) lag1;
    # (0,2),(2,4)? day3 missing so (2,4) is lag 2: present
    rows = []
    for d, c in [(0, 5), (1, 9), (2, 4), (4, 7), (5, 2)]:
        ts = f"1970-01-{d + 1:02d} 00:00:00"
        rows += [("g", ts)] * c
    df = spark.createDataFrame(
        rows, "g string, ts_s string"
    ).select("g", SF.col("ts_s").cast("timestamp").alias("ts"))
    r = {row.lag: row for row in volume_acf(df, "g").collect()}
    exp = _acf_bruteforce([(0, 5), (1, 9), (2, 4), (4, 7), (5, 2)], 7)
    assert {k: v[0] for k, v in exp.items()} == {
        k: r[k].n_pairs for k in r
    }
    for k in r:
        assert abs(r[k].acf - exp[k][1]) < 1e-12
    # constant series: zero denominator -> NULL acf, pairs counted
    flat = volume_acf(_daily_df(spark, [4, 4, 4]), "g").collect()
    assert {row.lag for row in flat} == {1, 2}
    assert all(row.acf is None for row in flat)
    # single day: no pair rows at all
    assert volume_acf(_daily_df(spark, [9]), "g").count() == 0


# --- Mann-Kendall trend + Theil-Sen slope ---


def _mk_bruteforce(xs_ys):
    import math
    from collections import Counter

    n = len(xs_ys)
    s = 0
    slopes = []
    for i in range(n):
        for j in range(i + 1, n):
            dy = xs_ys[j][1] - xs_ys[i][1]
            s += (dy > 0) - (dy < 0)
            slopes.append(dy / (xs_ys[j][0] - xs_ys[i][0]))
    ties = Counter(y for _, y in xs_ys)
    var18 = n * (n - 1) * (2 * n + 5) - sum(
        t * (t - 1) * (2 * t + 5) for t in ties.values()
    )
    if s == 0 or var18 <= 0:
        z = 0.0
    else:
        z = (s - (1 if s > 0 else -1)) / math.sqrt(var18 / 18.0)
    slopes.sort()
    m = len(slopes)
    sen = (slopes[(m + 1) // 2 - 1] + slopes[m // 2]) / 2.0
    return s, z, sen


def test_mk_matches_bruteforce_with_ties_and_gaps(spark):
    from protosc_spark.windows import trend_mk
    from pyspark.sql import functions as SF

    series = [(0, 5), (1, 9), (2, 9), (4, 7), (5, 12), (8, 12),
              (9, 15)]
    rows = []
    for d, c in series:
        ts = f"1970-01-{d + 1:02d} 00:00:00"
        rows += [("g", ts)] * c
    df = spark.createDataFrame(
        rows, "g string, ts_s string"
    ).select("g", SF.col("ts_s").cast("timestamp").alias("ts"))
    r = trend_mk(df, "g").collect()[0]
    s, z, sen = _mk_bruteforce(series)
    assert r.n_days == 7 and r.mk_s == s
    assert r.mk_z == z and r.sen_slope == sen


def test_mk_monotone_flat_and_single_day(spark):
    from protosc_spark.windows import trend_mk

    up = trend_mk(_daily_df(spark, [1, 2, 3, 4, 5]), "g").collect()[0]
    s, z, sen = _mk_bruteforce([(i, i + 1) for i in range(5)])
    assert up.mk_s == 10 and up.mk_z == z and up.sen_slope == 1.0
    flat = trend_mk(_daily_df(spark, [4, 4, 4]), "g").collect()[0]
    assert flat.mk_s == 0 and flat.mk_z == 0.0 and flat.sen_slope == 0.0
    one = trend_mk(_daily_df(spark, [9]), "g").collect()[0]
    assert one.n_days == 1 and one.mk_s == 0
    assert one.mk_z is None and one.sen_slope is None


# --- weekday one-way ANOVA ---


def _anova_bruteforce(xs_ys):
    from collections import defaultdict

    groups = defaultdict(list)
    for x, y in xs_ys:
        groups[x % 7].append(y)
    n = len(xs_ys)
    k = len(groups)
    tot = sum(y for _, y in xs_ys)
    bterm = sum(sum(g) ** 2 / len(g) for g in groups.values())
    ssb = bterm - tot**2 / n
    ssw = sum(y * y for _, y in xs_ys) - bterm
    if k < 2 or n <= k or ssw <= 0:
        return n, k, None, None
    f = (ssb / (k - 1)) / (ssw / (n - k))
    return n, k, f, ssb / (ssb + ssw)


def test_weekday_anova_detects_planted_rhythm(spark):
    from protosc_spark.windows import weekday_anova

    base = [30, 10, 12, 11, 13, 10, 28]
    # within-bin noise so SSW > 0 (a perfectly repeated rhythm is
    # the degenerate-NULL case, tested below)
    counts = [base[i % 7] + (i % 5) for i in range(21)]
    r = weekday_anova(_daily_df(spark, counts), "g").collect()[0]
    n, k, f, eta = _anova_bruteforce(list(enumerate(counts)))
    assert (r.n_days, r.k_bins) == (21, 7)
    assert abs(r.f_stat - f) < 1e-6 and abs(r.eta_sq - eta) < 1e-9
    assert r.f_stat > 10  # the rhythm dwarfs within-day noise
    # an arrhythmic series: small F
    arr = [10, 11, 9, 12, 10, 11, 10, 12, 9, 11, 10, 10, 11, 9]
    r2 = weekday_anova(_daily_df(spark, arr), "g").collect()[0]
    n, k, f, eta = _anova_bruteforce(list(enumerate(arr)))
    assert abs(r2.f_stat - f) < 1e-6


def test_weekday_anova_degenerate_null(spark):
    from protosc_spark.windows import weekday_anova

    # 3 days -> k=3 bins of one day each: n == k, no within dof
    r = weekday_anova(_daily_df(spark, [5, 6, 7]), "g").collect()[0]
    assert r.f_stat is None and r.eta_sq is None
    # perfectly repeated rhythm: ssw = 0 -> NULL
    r2 = weekday_anova(_daily_df(spark, [30, 10, 12, 11, 13, 10, 28] * 2), "g").collect()[0]
    assert r2.f_stat is None


# --- pairwise cross-correlation (CCF) ---


def _ccf_bruteforce(sa, sb, max_lag=7):
    """sa/sb: dicts day->count. Standard gappy CCF (each series'
    own full-span mean/variance, pairs at exact offset)."""
    import math

    out = {}
    na, nb = len(sa), len(sb)
    ma = sum(sa.values()) / na
    mb = sum(sb.values()) / nb
    va = sum((v - ma) ** 2 for v in sa.values())
    vb = sum((v - mb) ** 2 for v in sb.values())
    for k in range(-max_lag, max_lag + 1):
        num, n_pairs = 0.0, 0
        for x, v in sa.items():
            if x + k in sb:
                num += (v - ma) * (sb[x + k] - mb)
                n_pairs += 1
        if n_pairs == 0:
            continue
        ccf = (
            num / math.sqrt(va * vb) if va > 0 and vb > 0 else None
        )
        out[k] = (n_pairs, ccf)
    return out


def test_ccf_matches_bruteforce_and_peaks_at_planted_lag(spark):
    from protosc_spark.windows import volume_ccf

    a = [30, 10, 12, 25, 13, 10, 28, 14, 22, 9, 17, 26, 11, 19]
    # b repeats a two days later with a small jitter; drop day 5 to
    # exercise the gappy-pair convention
    sa = {d: c for d, c in enumerate(a)}
    sb = {
        d + 2: c + (d % 3) for d, c in enumerate(a) if d != 5
    }
    rows = []
    for d, c in sa.items():
        rows += [("a", f"1970-01-{d + 1:02d} 00:00:00")] * c
    for d, c in sb.items():
        rows += [("b", f"1970-01-{d + 1:02d} 00:00:00")] * c
    df = spark.createDataFrame(
        rows, "g string, ts_s string"
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))
    got = {
        r.lag: (r.n_pairs, r.ccf)
        for r in volume_ccf(df, "g").collect()
    }
    want = _ccf_bruteforce(sa, sb)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-12
    # the planted lead-lag structure dominates
    assert max(want, key=lambda k: want[k][1]) == 2
    assert got[2][1] > 0.9


def test_ccf_constant_series_is_null_and_pairs_still_counted(spark):
    from protosc_spark.windows import volume_ccf

    df = _daily_df(spark, [5, 5, 5, 5], g="flat").unionByName(
        _daily_df(spark, [1, 3, 2, 6], g="x")
    )
    rows = volume_ccf(df, "g").collect()
    assert rows and all(r.g1 == "flat" and r.g2 == "x" for r in rows)
    assert all(r.ccf is None for r in rows)
    assert {r.lag: r.n_pairs for r in rows}[0] == 4


# --- Holt linear trend ---


def _holt_bruteforce(counts, alpha=0.3, gamma=0.1):
    ys = [float(c) for c in counts]
    l, b = ys[1], ys[1] - ys[0]
    sse = sae = 0.0
    for y in ys[2:]:
        pred = l + b
        err = y - pred
        l2 = alpha * y + (1 - alpha) * pred
        b = gamma * (l2 - l) + (1 - gamma) * b
        l = l2
        sse += err * err
        sae += abs(err)
    nf = len(ys) - 2
    import math

    return l, b, l + b, math.sqrt(sse / nf), sae / nf


def test_holt_matches_bruteforce_and_tracks_linear_series(spark):
    from protosc_spark.windows import holt_trend

    # noisy upward series
    counts = [5 + 3 * d + (d * 7) % 4 for d in range(18)]
    r = holt_trend(_daily_df(spark, counts), "g").collect()[0]
    l, b, fc, rmse, mae = _holt_bruteforce(counts)
    assert r.n_days == 18
    assert abs(r.level - l) < 1e-12 and abs(r.trend - b) < 1e-12
    assert abs(r.forecast - fc) < 1e-12
    assert abs(r.rmse - rmse) < 1e-12 and abs(r.mae - mae) < 1e-12
    # exactly linear series: zero error, trend == slope
    lin = [5 + 3 * d for d in range(12)]
    r2 = holt_trend(_daily_df(spark, lin), "g").collect()[0]
    assert abs(r2.trend - 3.0) < 1e-12 and r2.rmse < 1e-12
    assert abs(r2.forecast - (5 + 3 * 12)) < 1e-10


def test_holt_short_series_edges(spark):
    from protosc_spark.windows import holt_trend

    one = holt_trend(_daily_df(spark, [7]), "g").collect()[0]
    assert one.level == 7.0 and one.trend is None
    assert one.forecast is None and one.rmse is None
    two = holt_trend(_daily_df(spark, [7, 11]), "g").collect()[0]
    assert two.level == 11.0 and two.trend == 4.0
    assert two.forecast == 15.0 and two.rmse is None


# --- response latency ---


def test_response_latency_transcripts_hand_case(spark):
    from protosc_spark.windows import response_latency

    rows = [
        # conv A: u@0s -> a@2s (2s), a -> u (not counted),
        # u@10s -> u@11s (adjacent same-role: skipped),
        # u@11s -> a@14.5s (3.5s, sub-second exactness)
        ("A", 0, "user", "1970-01-01 00:00:00"),
        ("A", 1, "assistant", "1970-01-01 00:00:02"),
        ("A", 2, "user", "1970-01-01 00:00:10"),
        ("A", 3, "user", "1970-01-01 00:00:11"),
        ("A", 4, "assistant", "1970-01-01 00:00:14.5"),
        # conv B: no qualifying pair -> no row
        ("B", 0, "assistant", "1970-01-01 00:00:00"),
        ("B", 1, "user", "1970-01-01 00:00:01"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts_s string"
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        F.col("ts_s").cast("timestamp").alias("ts"),
    )
    got = response_latency(df).collect()
    assert len(got) == 1 and got[0].conv_id == "A"
    r = got[0]
    assert r.n_pairs == 2
    assert r.min_latency_us == 2_000_000
    assert r.max_latency_us == 3_500_000
    assert r.mean_latency_us == 2_750_000.0


def test_response_latency_on_generated_transcripts(spark):
    from protosc_spark.datagen import generate_transcripts
    from protosc_spark.windows import response_latency

    tr = generate_transcripts(spark, n_conversations=60, seed=7)
    out = response_latency(tr).collect()
    assert out  # user->assistant adjacency exists in the generator
    for r in out:
        assert r.min_latency_us >= 0
        assert r.min_latency_us <= r.mean_latency_us <= r.max_latency_us
    # deterministic under repartitioning
    again = {
        r.conv_id: r
        for r in response_latency(tr.repartition(17)).collect()
    }
    assert {r.conv_id: r for r in out} == again


# --- conversion attribution ---


def test_attribution_first_vs_last_touch_hand_case(spark):
    from protosc_spark.windows import conversion_attribution

    rows = [
        # user 1: view -> click -> PURCHASE (first=view, last=click),
        # then another PURCHASE right after (prior touch unchanged
        # by the intervening purchase: first=view, last=click)
        (1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"),
        (1, 3, "purchase"),
        # user 2: organic purchase, no prior touch -> NULL
        (2, 0, "purchase"),
        # user 3: signup -> purchase
        (3, 0, "signup"), (3, 1, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, t long, event_type string"
    )
    got = {
        (r.model, r.touch): r.n_conversions
        for r in conversion_attribution(
            df, entity="user_id", order=("t",)
        ).collect()
    }
    assert got == {
        ("first", "view"): 2,
        ("last", "click"): 2,
        ("first", None): 1,
        ("last", None): 1,
        ("first", "signup"): 1,
        ("last", "signup"): 1,
    }


# --- daily rate with Wilson bands ---


def test_daily_rate_wilson_hand_case_and_bounds(spark):
    from protosc_spark.windows import daily_rate_wilson
    import math

    rows = []
    # day 0: 3/4 purchases; day 1: 0/5; day 2: 2/2 (k=n edge)
    for st in ("purchase", "purchase", "purchase", "view"):
        rows.append((st, "1970-01-01 00:00:00"))
    for _ in range(5):
        rows.append(("view", "1970-01-02 00:00:00"))
    rows += [("purchase", "1970-01-03 00:00:00")] * 2
    df = spark.createDataFrame(
        rows, "event_type string, ts_s string"
    ).select(
        "event_type", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = {r.day: r for r in daily_rate_wilson(df).collect()}

    def wilson(k, n, z=1.959963984540054):
        p = k / n
        denom = 1 + z * z / n
        c = (p + z * z / (2 * n)) / denom
        h = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
        return c - h, c + h

    for day, (k, n) in {0: (3, 4), 1: (0, 5), 2: (2, 2)}.items():
        r = got[day]
        lo, hi = wilson(k, n)
        assert (r.n, r.k) == (n, k) and r.rate == k / n
        assert abs(r.ci_lo - lo) < 1e-12 and abs(r.ci_hi - hi) < 1e-12
        # Wilson stays in [0, 1] even at the k=0 / k=n edges
        assert 0.0 <= r.ci_lo <= r.rate <= r.ci_hi <= 1.0
    assert got[1].ci_lo == 0.0 or got[1].ci_lo > 0  # defined at k=0
    assert got[2].ci_hi <= 1.0


# ---------------------------------------------------------------------------
# logrank_test
# ---------------------------------------------------------------------------

def _logrank_bruteforce(rows):
    """(o1, e1, z) by direct evaluation of the Mantel-Haenszel 2x2
    table at every event time."""
    import math

    times = sorted({t for t, e, _ in rows if e == 1})
    o1, e1, v = 0, 0.0, 0.0
    for t in times:
        d1 = sum(1 for tt, e, g in rows if tt == t and e and g == 1)
        d0 = sum(1 for tt, e, g in rows if tt == t and e and g == 0)
        n1 = sum(1 for tt, _, g in rows if tt >= t and g == 1)
        n0 = sum(1 for tt, _, g in rows if tt >= t and g == 0)
        d, n = d1 + d0, n1 + n0
        o1 += d1
        if d > 0 and n > 1:
            e1 += d * n1 / n
            v += d * n1 * n0 * (n - d) / (n * n * (n - 1))
    z = (o1 - e1) / math.sqrt(v) if v > 0 else None
    return o1, e1, z


def test_logrank_matches_bruteforce(spark):
    from protosc_spark.windows import logrank_test

    rows = [
        (3, 1, 1), (5, 1, 1), (5, 0, 1), (8, 1, 1), (9, 0, 1),
        (2, 1, 0), (3, 1, 0), (3, 1, 0), (6, 0, 0), (7, 1, 0),
        (8, 1, 0), (11, 0, 1),
    ]
    df = spark.createDataFrame(rows, "duration int, event int, group int")
    r = logrank_test(df).collect()[0]
    o1, e1, z = _logrank_bruteforce(rows)
    assert r.n_1 == 6 and r.n_0 == 6 and r.o1 == o1
    assert abs(r.e1 - e1) < 1e-6
    assert abs(r.z - z) < 1e-6
    assert abs(r.chi2 - z * z) < 1e-5


def test_logrank_identical_curves_near_zero(spark):
    from protosc_spark.windows import logrank_test

    # the two groups have IDENTICAL duration/event multisets: every
    # 2x2 table is balanced, so O1 - E1 = 0 exactly
    rows = [(t, e, g) for g in (0, 1)
            for t, e in [(1, 1), (2, 1), (4, 0), (5, 1), (7, 0)]]
    df = spark.createDataFrame(rows, "duration int, event int, group int")
    r = logrank_test(df).collect()[0]
    assert abs(r.o1 - r.e1) < 1e-6 and abs(r.z) < 1e-5


def test_logrank_planted_hazard_sign_and_censoring(spark):
    from protosc_spark.windows import logrank_test

    # group 1 dies early, group 0 late -> z strongly positive
    rows = [(i % 3 + 1, 1, 1) for i in range(30)] + [
        (i % 3 + 20, 1, 0) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "duration int, event int, group int")
    r = logrank_test(df).collect()[0]
    assert r.z > 3.0
    # censoring those early group-1 exits instead (no events): group 1
    # has fully left the risk set before the first event time, so no
    # 2x2 table ever has both groups at risk -> variance 0 -> z NULL
    cens = [(t, 0, g) if g == 1 else (t, e, g) for t, e, g in rows]
    dfc = spark.createDataFrame(
        cens, "duration int, event int, group int"
    )
    rc = logrank_test(dfc).collect()[0]
    assert rc.o1 == 0 and rc.z is None
    # censor only HALF of group 1 early: overlap remains, and group
    # 1's events still arriving early keeps z positive
    half = [
        (t, 0 if i < 15 else e, g) if g == 1 else (t, e, g)
        for i, (t, e, g) in enumerate(rows)
    ]
    dfh = spark.createDataFrame(
        half, "duration int, event int, group int"
    )
    rh = logrank_test(dfh).collect()[0]
    assert rh.o1 == 15 and rh.z > 0


def test_logrank_degenerate_and_nulls(spark):
    from protosc_spark.windows import logrank_test

    onegrp = spark.createDataFrame(
        [(1, 1, 1), (2, 1, 1)], "duration int, event int, group int"
    )
    r = logrank_test(onegrp).collect()[0]
    assert r.n_0 == 0 and r.z is None and r.chi2 is None
    withnull = spark.createDataFrame(
        [(1, 1, 1), (None, 1, 0), (2, None, 0), (3, 0, None),
         (4, 1, 0)],
        "duration int, event int, group int",
    )
    r = logrank_test(withnull).collect()[0]
    assert r.n_1 == 1 and r.n_0 == 1


def test_logrank_plan_no_python(spark):
    from protosc_spark.windows import logrank_test

    df = spark.createDataFrame(
        [(1, 1, 1), (2, 0, 0)], "duration int, event int, group int"
    )
    plan = (
        logrank_test(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# volume_breakpoint
# ---------------------------------------------------------------------------

def _bp_bruteforce(series, min_seg=2):
    """series: [(day, count)]; exhaustive two-segment OLS."""
    def sse_fit(pts):
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        syy = sum(y * y for _, y in pts)
        cov = n * sxy - sx * sy
        varx = n * sxx - sx * sx
        return (syy - sy * sy / n) - cov * cov / (n * varx), cov / varx

    series = sorted(series)
    best = None
    for i in range(min_seg, len(series) - min_seg + 1):
        sl, gl = sse_fit(series[:i])
        sr, gr = sse_fit(series[i:])
        key = (sl + sr, series[i - 1][0])
        if best is None or key < best[0]:
            best = (key, series[i - 1][0], gl, gr)
    single, _ = sse_fit(series)
    return single, best[1], best[2], best[3], best[0][0]


def test_breakpoint_recovers_planted_regime_change(spark):
    import datetime as dt

    from protosc_spark.windows import volume_breakpoint

    # slope +1 for 10 days, then slope -2: breakpoint at day index 9
    counts = [10 + i for i in range(10)] + [
        40 - 2 * i for i in range(8)
    ]
    rows = [
        ("a", dt.datetime(2024, 1, 1 + d, 12, 0, 0))
        for d, c in enumerate(counts)
        for _ in range(c)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    r = volume_breakpoint(df, "g").collect()[0]
    base = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
    series = [(base + d, c) for d, c in enumerate(counts)]
    single, bp, gl, gr, split = _bp_bruteforce(series)
    assert r.n_days == 18 and r.bp == bp
    assert abs(r.slope_lo - gl) < 1e-9
    assert abs(r.slope_hi - gr) < 1e-9
    assert abs(r.sse_split - split) < 1e-6
    assert abs(r.sse_single - single) < 1e-6
    # the planted change sits at the true regime boundary and the
    # split fits far better than one line
    assert bp == base + 9 and r.sse_split < r.sse_single / 4
    assert r.slope_lo > 0 > r.slope_hi


def test_breakpoint_degenerate_short_series(spark):
    import datetime as dt

    from protosc_spark.windows import volume_breakpoint

    # 3 days < 2*min_seg: no admissible split -> NULL bp, single SSE
    rows = [
        ("a", dt.datetime(2024, 1, 1 + d)) for d in range(3)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    r = volume_breakpoint(df, "g").collect()[0]
    assert r.n_days == 3 and r.bp is None and r.sse_split is None
    assert r.sse_single is not None
    # 1 day: even the single fit is undefined
    one = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1))], "g string, ts timestamp"
    )
    r1 = volume_breakpoint(one, "g").collect()[0]
    assert r1.sse_single is None and r1.bp is None


def test_breakpoint_plan_no_python(spark):
    import datetime as dt

    from protosc_spark.windows import volume_breakpoint

    df = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1))], "g string, ts timestamp"
    )
    plan = (
        volume_breakpoint(df, "g")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# volume_pacf
# ---------------------------------------------------------------------------

def _pacf_ref(rs):
    phi = [rs[0]]
    pacf = [rs[0]]
    for k in range(2, len(rs) + 1):
        num = rs[k - 1] - sum(
            phi[j - 1] * rs[k - j - 1] for j in range(1, k)
        )
        den = 1.0 - sum(phi[j - 1] * rs[j - 1] for j in range(1, k))
        a = num / den
        phi = [
            phi[j - 1] - a * phi[k - 1 - j] for j in range(1, k)
        ] + [a]
        pacf.append(a)
    return pacf


def _pacf_daily_df(spark, counts, g="a", start=(2024, 1, 1)):
    import datetime as dt

    rows = [
        (g, dt.datetime(*start, 12) + dt.timedelta(days=d))
        for d, c in enumerate(counts)
        for _ in range(c)
    ]
    return spark.createDataFrame(rows, "g string, ts timestamp")


def test_pacf_matches_durbin_levinson_exactly(spark):
    from protosc_spark.windows import volume_acf, volume_pacf

    counts, prev = [], 30
    for d in range(40):
        v = max(1, round(20 + 0.7 * (prev - 20))
                + (8 if d % 7 == 0 else 0))
        counts.append(v)
        prev = v
    df = _pacf_daily_df(spark, counts)
    rs = [
        r.acf
        for r in sorted(
            volume_acf(df, "g", max_lag=5).collect(),
            key=lambda r: r.lag,
        )
    ]
    want = _pacf_ref(rs)
    got = {r.lag: r for r in volume_pacf(df, "g", max_lag=5).collect()}
    assert len(got) == 5
    for k in range(1, 6):
        # bit-identical: same IEEE recursion, same order
        assert got[k].pacf == want[k - 1]
        assert got[k].acf == rs[k - 1]


def test_pacf_ar1_cuts_off_after_lag_one(spark):
    from protosc_spark.windows import volume_pacf

    # strong planted AR(1): ACF decays geometrically but PACF
    # collapses after lag 1 (the Box-Jenkins identification signal)
    import hashlib

    counts, prev = [], 60.0
    for d in range(150):
        noise = (
            int(hashlib.md5(str(d).encode()).hexdigest()[:4], 16)
            % 9 - 4
        )  # deterministic white noise
        prev = 50 + 0.8 * (prev - 50) + noise
        counts.append(max(1, round(prev)))
    df = _pacf_daily_df(spark, counts)
    got = {r.lag: r for r in volume_pacf(df, "g", max_lag=5).collect()}
    # ACF decays slowly (echoes of lag 1) but PACF collapses at 2+
    assert got[1].pacf > 0.7 and got[2].acf > 0.6
    for k in (2, 3, 4, 5):
        assert abs(got[k].pacf) < got[1].pacf / 4


def test_pacf_excludes_constant_and_short_slices(spark):
    from protosc_spark.windows import volume_pacf

    # constant series -> zero ACF denominator -> excluded entirely;
    # 4-day series cannot produce lag-5 ACF -> excluded
    const = _pacf_daily_df(spark, [5] * 30, g="const")
    short = _pacf_daily_df(spark, [1, 2, 3, 4], g="short")
    df = const.union(short)
    assert volume_pacf(df, "g", max_lag=5).count() == 0


def test_pacf_plan_no_python(spark):
    from protosc_spark.windows import volume_pacf

    df = _pacf_daily_df(spark, [1, 2, 3])
    plan = (
        volume_pacf(df, "g")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# transition_score
# ---------------------------------------------------------------------------

def _markov_ref(streams, alpha=1.0, unit=10**9):
    """streams: {entity: [state,...]} -> {entity: (n, logprob)}."""
    import math
    from collections import Counter

    pairs = [
        (e, a, b)
        for e, seq in streams.items()
        for a, b in zip(seq, seq[1:])
    ]
    cab = Counter((a, b) for _, a, b in pairs)
    ca = Counter(a for _, a, _ in pairs)
    states = {s for seq in streams.values() for s in seq}
    out = {}
    for e, seq in streams.items():
        qs = [
            math.floor(
                math.log(
                    (cab[(a, b)] + alpha)
                    / (ca[a] + alpha * len(states))
                )
                * unit
            )
            for a, b in zip(seq, seq[1:])
        ]
        if qs:
            out[e] = (len(qs), sum(qs) / unit)
    return out


def test_transition_score_matches_reference(spark):
    import datetime as dt

    from protosc_spark.windows import transition_score

    streams = {
        "u1": ["view", "view", "cart", "purchase"],
        "u2": ["view", "cart", "view", "view"],
        "u3": ["purchase", "purchase", "purchase"],  # weird journey
        "u4": ["view"],  # no transition -> no row
    }
    rows = [
        (e, s, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i)
        for e, seq in streams.items()
        for i, s in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, ts timestamp,"
        " event_id long"
    )
    got = {r.user_id: r for r in transition_score(df).collect()}
    want = _markov_ref(streams)
    assert set(got) == set(want)
    for e, (n, lp) in want.items():
        assert got[e].n_transitions == n
        assert abs(got[e].logprob - lp) < 1e-9
        assert abs(got[e].avg_logprob - lp / n) < 1e-9
    # smoothed probabilities are < 1, so every score is negative
    assert all(r.avg_logprob < 0 for r in got.values())


def test_transition_score_plan_single_entity_exchange(spark):
    import datetime as dt

    from protosc_spark.windows import transition_score

    df = spark.createDataFrame(
        [("u", "view", dt.datetime(2024, 1, 1), 1)],
        "user_id string, event_type string, ts timestamp,"
        " event_id long",
    )
    plan = (
        transition_score(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# weekday_index
# ---------------------------------------------------------------------------

def test_weekday_index_hand_fixture(spark):
    import datetime as dt

    from protosc_spark.windows import weekday_index

    # 3 full weeks; weekday bin w gets volume 10 + w (epoch-day % 7)
    rows = []
    start = dt.date(2024, 1, 1)
    base = (start - dt.date(1970, 1, 1)).days
    for d in range(21):
        w = (base + d) % 7
        for _ in range(10 + w):
            rows.append(
                ("a", dt.datetime(2024, 1, 1, 8) + dt.timedelta(days=d))
            )
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    got = {r.weekday: r for r in weekday_index(df, "g").collect()}
    total = sum(10 + w for w in range(7)) * 3
    overall = total / 21
    assert len(got) == 7
    for w in range(7):
        assert got[w].n_days == 3
        assert abs(got[w].mean_volume - (10 + w)) < 1e-12
        assert abs(got[w].seasonal_index - (10 + w) / overall) \
            < 1e-12
    # indexes average to 1 over balanced weekday counts
    assert abs(
        sum(r.seasonal_index for r in got.values()) / 7 - 1.0
    ) < 1e-12
    # deseasonalization: y / index recovers the overall mean exactly
    for w in range(7):
        assert abs((10 + w) / got[w].seasonal_index - overall) < 1e-9


def test_weekday_index_plan_no_python(spark):
    import datetime as dt

    from protosc_spark.windows import weekday_index

    df = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1))], "g string, ts timestamp"
    )
    plan = (
        weekday_index(df, "g")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# volume_dispersion
# ---------------------------------------------------------------------------

def test_dispersion_hand_values(spark):
    from protosc_spark.windows import volume_dispersion

    rows = [("burst", "1970-01-01 00:00:00")] * 99
    rows += [("burst", "1970-01-10 00:00:00")]
    rows += [
        ("flat", f"1970-01-{d + 1:02d} 00:00:00") for d in range(10)
    ]
    df = spark.createDataFrame(
        rows, "g string, ts_s string"
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))
    got = {r.g: r for r in volume_dispersion(df, "g").collect()}
    b = got["burst"]
    # span 10 days, 2 active; S=100, SS=99^2+1=9802
    # fano = (10*9802 - 100^2) / (100 * 9) = 88020/900 = 97.8
    assert (b.n_days, b.n_active_days, b.total) == (10, 2, 100)
    assert abs(b.fano - 97.8) < 1e-9
    assert abs(b.dispersion - 880.2) < 1e-9
    assert b.overdispersed is True
    f = got["flat"]
    # metronome: variance 0 (zeros inside span don't exist here)
    assert f.fano == 0.0 and f.dispersion == 0.0
    import math
    assert abs(f.z - (0.0 - math.sqrt(17.0))) < 1e-9
    assert f.overdispersed is False


def test_dispersion_counts_silent_days_as_zero(spark):
    from protosc_spark.windows import volume_dispersion

    # 3 events on day 0, 3 on day 4: span 5 with three zero days.
    # S=6, SS=18, n=5 -> fano = (5*18-36)/(6*4) = 54/24 = 2.25
    rows = [("g", "1970-01-01 00:00:00")] * 3
    rows += [("g", "1970-01-05 00:00:00")] * 3
    df = spark.createDataFrame(
        rows, "g string, ts_s string"
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))
    r = volume_dispersion(df, "g").collect()[0]
    assert (r.n_days, r.n_active_days, r.total) == (5, 2, 6)
    assert abs(r.fano - 2.25) < 1e-12


def test_dispersion_single_day_guard(spark):
    from protosc_spark.windows import volume_dispersion

    df = spark.createDataFrame(
        [("g", "1970-01-01 00:00:00")] * 4,
        "g string, ts_s string",
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))
    r = volume_dispersion(df, "g").collect()[0]
    assert r.n_days == 1 and r.fano is None
    assert r.overdispersed is None


def test_dispersion_matches_numpy(spark):
    import numpy as np
    from protosc_spark.windows import volume_dispersion

    rng = np.random.default_rng(11)
    days = rng.integers(0, 30, size=300)
    rows = [
        ("g", f"1970-01-{int(d) + 1:02d} 00:00:00") for d in days
    ]
    df = spark.createDataFrame(
        rows, "g string, ts_s string"
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))
    r = volume_dispersion(df, "g").collect()[0]
    lo, hi = int(days.min()), int(days.max())
    y = np.zeros(hi - lo + 1)
    for d in days:
        y[int(d) - lo] += 1
    ref = y.var(ddof=1) / y.mean()
    assert abs(r.fano - ref) < 1e-9
    assert r.n_days == hi - lo + 1


def test_dispersion_plan_no_python(spark):
    from protosc_spark.windows import volume_dispersion

    df = spark.createDataFrame(
        [("g", "1970-01-01 00:00:00")], "g string, ts_s string"
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))
    out = volume_dispersion(df, "g")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# volume_pettitt
# ---------------------------------------------------------------------------

def _pettitt_bruteforce(counts):
    """O(T^2) literal Pettitt from the definition: U_t as the full
    double sign sum, K over t = 1..T-1 with earliest-day ties."""
    import math

    T = len(counts)
    best_k, best_t = None, None
    for t in range(1, T):  # t = index of last left element, 1-based
        u = sum(
            (counts[i] > counts[j]) - (counts[i] < counts[j])
            for i in range(t)
            for j in range(t, T)
        )
        if best_k is None or abs(u) > best_k:
            best_k, best_t = abs(u), t - 1  # 0-based day index
    p = min(
        2.0 * math.exp(-6.0 * best_k * best_k / (T**3 + T**2)), 1.0
    )
    return best_k, best_t, p


def test_pettitt_recovers_planted_shift(spark):
    from protosc_spark.windows import volume_pettitt

    # 10 quiet days then 10 loud days, with ties inside each regime
    counts = [10, 12, 11, 10, 12, 11, 10, 12, 11, 10,
              30, 33, 31, 30, 33, 31, 30, 33, 31, 30]
    r = volume_pettitt(_daily_df(spark, counts), "g").collect()[0]
    k, t, p = _pettitt_bruteforce(counts)
    assert r.n_days == 20
    assert r.k_stat == k == 100  # clean shift: U peaks at n1*n2
    assert r.cp_day == t  # epoch day of the last quiet day
    assert abs(r.p_value - p) < 1e-12 and r.significant is True


def test_pettitt_matches_bruteforce_with_ties_and_no_shift(spark):
    import random

    from protosc_spark.windows import volume_pettitt

    rng = random.Random(3)
    counts = [rng.randint(5, 9) for _ in range(17)]
    r = volume_pettitt(_daily_df(spark, counts), "g").collect()[0]
    k, t, p = _pettitt_bruteforce(counts)
    assert (r.k_stat, r.cp_day) == (k, t)
    assert abs(r.p_value - p) < 1e-12
    # i.i.d. noise: nothing significant
    assert r.significant is False


def test_pettitt_constant_and_degenerate(spark):
    from protosc_spark.windows import volume_pettitt

    # constant series: K = 0, p clamps to 1
    r = volume_pettitt(_daily_df(spark, [7] * 9), "g").collect()[0]
    assert r.k_stat == 0 and r.p_value == 1.0
    assert r.significant is False

    # single day: NULL statistics but the group row survives
    r = volume_pettitt(_daily_df(spark, [5]), "g").collect()[0]
    assert r.n_days == 1 and r.k_stat is None and r.p_value is None


# ---------------------------------------------------------------------------
# volume_runs_test
# ---------------------------------------------------------------------------

def _runs_bruteforce(counts):
    """Literal runs test: doubled-median labels, drop equals, count
    maximal runs, closed-form z in plain floats."""
    import math

    s = sorted(counts)
    n = len(counts)
    dmed = s[(n + 1) // 2 - 1] + s[n // 2]
    labs = [2 * c > dmed for c in counts if 2 * c != dmed]
    n1 = sum(labs)
    n0 = len(labs) - n1
    if n1 == 0 or n0 == 0:
        return n1, n0, None, None
    r = 1 + sum(
        1 for a, b in zip(labs, labs[1:]) if a != b
    )
    nn = float(n1 + n0)
    mu = 2.0 * n1 * n0 / nn + 1.0
    var = (
        2.0 * n1 * n0 * (2.0 * n1 * n0 - nn)
        / (nn * nn * (nn - 1.0))
    )
    if var <= 0:
        return n1, n0, r, None
    return n1, n0, r, (r - mu) / math.sqrt(var)


def test_runs_alternating_and_clumped(spark):
    from protosc_spark.windows import volume_runs_test

    # perfect alternation: maximal runs, z >> 1.96
    alt = [10, 30] * 10
    r = volume_runs_test(_daily_df(spark, alt), "g").collect()[0]
    n1, n0, runs, z = _runs_bruteforce(alt)
    assert (r.n_above, r.n_below, r.runs) == (n1, n0, runs) == (
        10, 10, 20
    )
    assert r.z == z and r.z > 1.96 and r.nonrandom is True

    # one clean step: 2 runs, z << -1.96
    step = [10] * 10 + [30] * 10
    r = volume_runs_test(_daily_df(spark, step), "g").collect()[0]
    n1, n0, runs, z = _runs_bruteforce(step)
    assert r.runs == runs == 2
    assert r.z == z and r.z < -1.96 and r.nonrandom is True


def test_runs_matches_bruteforce_with_median_ties(spark):
    import random

    from protosc_spark.windows import volume_runs_test

    rng = random.Random(11)
    counts = [rng.randint(5, 9) for _ in range(25)]  # many ties
    r = volume_runs_test(_daily_df(spark, counts), "g").collect()[0]
    n1, n0, runs, z = _runs_bruteforce(counts)
    assert (r.n_above, r.n_below, r.runs) == (n1, n0, runs)
    assert r.z == z  # identical float trees
    # median-equal days really are dropped
    assert r.n_above + r.n_below < r.n_days


def test_runs_degenerate_one_side_empty(spark):
    from protosc_spark.windows import volume_runs_test

    # 3 equal + 1 high: everything at/below the median band drops
    # or lands on one side -> NULL z, row survives
    r = volume_runs_test(
        _daily_df(spark, [5, 5, 5, 7]), "g"
    ).collect()[0]
    assert r.z is None and r.nonrandom is None
    assert r.n_days == 4


# ---------------------------------------------------------------------------
# volume_hurst
# ---------------------------------------------------------------------------

def _long_daily_df(spark, counts, g="g"):
    """_daily_df for series longer than one month."""
    import datetime as dt

    rows = []
    for d, c in enumerate(counts):
        ts = (
            dt.datetime(1970, 1, 1) + dt.timedelta(days=d)
        ).strftime("%Y-%m-%d 00:00:00")
        rows += [(g, ts)] * c
    return spark.createDataFrame(
        rows, "g string, ts_s string"
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"))


def _hurst_bruteforce(counts, min_block=8, unit=10**12):
    """Digit-for-digit replay of the quantized R/S pipeline."""
    import math

    T = len(counts)
    sizes = []
    m = min_block
    while m * 2 <= T:
        sizes.append(m)
        m *= 2
    pts = []
    for m in sizes:
        qlns = []
        for b in range(T // m):
            ys = counts[b * m:(b + 1) * m]
            s = sum(ys)
            dvs = [m * y - s for y in ys]
            w, walk = 0, []
            for dv in dvs:
                w += dv
                walk.append(w)
            r = max(walk) - min(walk)
            sd2 = sum(dv * dv for dv in dvs)
            if sd2 > 0:
                rs = (
                    float(r) * math.sqrt(float(m))
                    / math.sqrt(float(sd2))
                )
                qlns.append(math.floor(math.log(rs) * float(unit)))
        if qlns:
            xq = math.floor(math.log(float(m)) * float(unit))
            yq = math.floor(
                float(sum(qlns)) / float(len(qlns)) * 1e6
            )
            pts.append((xq, yq))
    if len(pts) < 2:
        return len(pts), None
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    den = n * sxx - sx * sx
    if den <= 0:
        return n, None
    return n, float(n * sxy - sx * sy) / float(den) * 1e-6


def test_hurst_iid_noise_near_half_and_replay(spark):
    import random

    from protosc_spark.windows import volume_hurst

    rng = random.Random(9)
    counts = [rng.randint(10, 90) for _ in range(128)]
    r = volume_hurst(_long_daily_df(spark, counts), "g").collect()[0]
    n_sizes, href = _hurst_bruteforce(counts)
    assert r.n_days == 128 and r.n_sizes == n_sizes == 4
    assert r.hurst == href  # digit-exact replay
    # iid noise: H around 0.5 (R/S small-sample bias runs high)
    assert 0.3 < r.hurst < 0.75


def test_hurst_persistent_trend_high(spark):
    from protosc_spark.windows import volume_hurst

    # strong monotone trend: cumulative walk range grows ~ m
    counts = [10 + 3 * i for i in range(128)]
    r = volume_hurst(_long_daily_df(spark, counts), "g").collect()[0]
    n_sizes, href = _hurst_bruteforce(counts)
    assert r.hurst == href and r.hurst > 0.9


def test_hurst_alternating_low(spark):
    from protosc_spark.windows import volume_hurst

    # perfectly mean-reverting alternation: H near 0
    counts = [10, 30] * 64
    r = volume_hurst(_long_daily_df(spark, counts), "g").collect()[0]
    n_sizes, href = _hurst_bruteforce(counts)
    assert r.hurst == href and r.hurst < 0.25


def test_hurst_degenerate(spark):
    from protosc_spark.windows import volume_hurst

    # 20 days: only m=8 fits (8*2=16 <= 20 but 16*2=32 > 20)
    # -> 1 size -> NULL
    counts = [7 + (i % 3) for i in range(20)]
    r = volume_hurst(_long_daily_df(spark, counts), "g").collect()[0]
    assert r.n_sizes == 1 and r.hurst is None

    # constant series: every block excluded -> 0 sizes, NULL
    r = volume_hurst(_long_daily_df(spark, [5] * 64), "g").collect()[0]
    assert r.n_sizes == 0 and r.hurst is None


# ---------------------------------------------------------------------------
# weekday_friedman
# ---------------------------------------------------------------------------

def _friedman_ref(counts):
    """Literal replay: complete epoch-weeks, doubled midranks,
    tie-corrected chi2, df=6 closed-form p."""
    import math
    from collections import defaultdict

    weeks = defaultdict(dict)
    for d, c in enumerate(counts):
        weeks[d // 7][d % 7] = c
    full = {w: m for w, m in weeks.items() if len(m) == 7}
    n = len(full)
    if n == 0:
        return 0, None, None
    r2 = [0] * 7
    a4 = 0
    for m in full.values():
        vals = sorted(m.values())
        for wd, y in m.items():
            less = sum(1 for v in vals if v < y)
            ties = sum(1 for v in vals if v == y)
            d = 2 * less + ties + 1
            r2[wd] += d
            a4 += d * d
    den = a4 - 448 * n
    if den <= 0:
        return n, None, None
    s = sum((r - 8 * n) ** 2 for r in r2)
    chi2 = float(6 * s) / float(den)
    h = chi2 / 2.0
    return n, chi2, math.exp(-h) * (1.0 + h + h * h / 2.0)


def test_friedman_planted_rhythm(spark):
    from protosc_spark.windows import weekday_friedman

    # 4 complete weeks of a strict weekday profile + noise-free
    base = [40, 10, 12, 14, 16, 18, 35]
    counts = [base[d % 7] + (d // 7) * 100 for d in range(28)]
    # level shifts of +100/week would wreck ANOVA's pooled variance
    # but within-week ranks are identical every week
    r = weekday_friedman(
        _long_daily_df(spark, counts), "g"
    ).collect()[0]
    n, chi2, p = _friedman_ref(counts)
    assert r.n_weeks == n == 4
    assert r.chi2 == chi2 and abs(r.p_value - p) < 1e-12
    assert r.significant is True and r.chi2 > 20


def test_friedman_no_rhythm_and_ties_replay(spark):
    import random

    from protosc_spark.windows import weekday_friedman

    rng = random.Random(12)
    counts = [rng.randint(5, 8) for _ in range(35)]  # tie-heavy
    r = weekday_friedman(
        _long_daily_df(spark, counts), "g"
    ).collect()[0]
    n, chi2, p = _friedman_ref(counts)
    assert r.n_weeks == n == 5
    # exp is a JVM intrinsic: 1-ulp vs libm is expected
    assert r.chi2 == chi2 and abs(r.p_value - p) < 1e-12
    assert r.significant is False


def test_friedman_incomplete_weeks_and_degenerate(spark):
    from protosc_spark.windows import weekday_friedman

    # 10 days = 1 complete week + a 3-day stub
    counts = [10, 20, 30, 40, 50, 60, 70, 1, 2, 3]
    r = weekday_friedman(
        _long_daily_df(spark, counts), "g"
    ).collect()[0]
    n, chi2, p = _friedman_ref(counts)
    assert r.n_weeks == n == 1 and r.chi2 == chi2

    # constant weeks: every rank tied -> denominator 0 -> NULL
    r = weekday_friedman(
        _long_daily_df(spark, [5] * 14), "g"
    ).collect()[0]
    assert r.n_weeks == 2 and r.chi2 is None


# ---------------------------------------------------------------------------
# topk_churn
# ---------------------------------------------------------------------------

def _churn_df(spark, day_entities):
    """day_entities: {epoch_day: [(entity, count), ...]}"""
    import datetime as dt

    rows = []
    for d, ents in day_entities.items():
        ts = (
            dt.datetime(1970, 1, 1) + dt.timedelta(days=int(d))
        ).strftime("%Y-%m-%d 00:00:00")
        for e, c in ents:
            rows += [(e, ts)] * c
    return spark.createDataFrame(
        rows, "e string, ts_s string"
    ).select("e", F.col("ts_s").cast("timestamp").alias("ts"))


def test_churn_stable_vs_turnover(spark):
    from protosc_spark.windows import topk_churn

    days = {
        0: [("u1", 9), ("u2", 8), ("u3", 7)],
        1: [("u1", 9), ("u2", 8), ("u3", 7)],       # identical
        2: [("v1", 9), ("v2", 8), ("v3", 7)],       # full swap
    }
    out = {
        (r.day_a, r.day_b): r
        for r in topk_churn(_churn_df(spark, days), "e", k=3)
        .collect()
    }
    assert out[(0, 1)].jaccard == 1.0 and out[(0, 1)].churn == 0.0
    assert out[(1, 2)].overlap == 0 and out[(1, 2)].churn == 1.0
    assert out[(1, 2)].entered == 3 and out[(1, 2)].left == 3


def test_churn_rank_ties_and_k_cut(spark):
    from protosc_spark.windows import topk_churn

    # ties at the k boundary: (count desc, entity asc) is the rule,
    # so with k=2 day 0 keeps u1 (5) and u2 (4, beats u3 by name)
    days = {
        0: [("u1", 5), ("u2", 4), ("u3", 4)],
        1: [("u3", 5), ("u2", 4), ("u1", 1)],
    }
    out = topk_churn(_churn_df(spark, days), "e", k=2).collect()
    r = out[0]
    assert (r.n_a, r.n_b) == (2, 2)
    # day0 = {u1, u2}; day1 = {u3, u2} -> overlap u2 only
    assert r.overlap == 1 and r.jaccard == 1 / 3
    assert r.entered == 1 and r.left == 1


def test_churn_calendar_gap_not_paired(spark):
    from protosc_spark.windows import topk_churn

    days = {
        0: [("u1", 3)],
        1: [("u1", 3)],
        3: [("u1", 3)],  # day 2 missing: (1,3) must NOT pair
    }
    out = topk_churn(_churn_df(spark, days), "e", k=5).collect()
    assert sorted((r.day_a, r.day_b) for r in out) == [(0, 1)]


# entropy_rate ------------------------------------------------------


def _chain_df(spark, streams):
    """streams: {entity: [state, state, ...]} -> event rows with
    increasing ts per entity."""
    import datetime

    rows = []
    for ent, seq in streams.items():
        for i, s in enumerate(seq):
            rows.append(
                (
                    ent,
                    s,
                    datetime.datetime(2024, 1, 1)
                    + datetime.timedelta(minutes=i),
                    i,
                )
            )
    return spark.createDataFrame(
        rows, "user_id string, event_type string, ts timestamp,"
        " event_id long"
    )


def _entropy_ref(streams, unit=10**9):
    import math
    from collections import Counter

    cab = Counter()
    for seq in streams.values():
        for a, b in zip(seq, seq[1:]):
            cab[(a, b)] += 1
    ca = Counter()
    for (a, _), c in cab.items():
        ca[a] += c
    t = sum(cab.values())
    ssum = 0
    for (a, _), c in cab.items():
        lnq = math.floor(
            math.log(float(c) / float(ca[a])) * float(unit)
        )
        ssum += c * lnq
    return -float(ssum) / (float(t) * float(unit)), t, len(ca)


def test_entropy_rate_deterministic_chain_is_zero(spark):
    from protosc_spark.windows import entropy_rate

    # a -> b -> a -> b ... : every transition certain
    r = entropy_rate(
        _chain_df(spark, {"u": ["a", "b"] * 20})
    ).collect()[0]
    assert r.entropy_nats == 0.0 and r.perplexity == 1.0
    assert r.n_transitions == 39 and r.n_from_states == 2


def test_entropy_rate_digit_exact_replay(spark):
    from protosc_spark.windows import entropy_rate

    import random

    rng = random.Random(31)
    streams = {
        f"u{i}": [
            rng.choice("abcd") for _ in range(rng.randint(2, 30))
        ]
        for i in range(25)
    }
    r = entropy_rate(_chain_df(spark, streams)).collect()[0]
    h_ref, t_ref, s_ref = _entropy_ref(streams)
    assert r.n_transitions == t_ref
    assert r.n_from_states == s_ref
    assert r.entropy_nats == h_ref
    import math

    assert r.perplexity == math.exp(h_ref)
    # 4 uniform-ish states: rate near ln 4, never above
    assert 0.5 < h_ref <= math.log(4.0) + 1e-9


def test_entropy_rate_mix_vs_rate_divergence(spark):
    from protosc_spark.windows import entropy_rate

    # two entities, each a deterministic 3-cycle: the STATE MIX is
    # uniform over 3 states (max mix entropy) but the chain is
    # fully predictable -> rate exactly 0
    streams = {
        "u1": ["x", "y", "z"] * 15,
        "u2": ["x", "y", "z"] * 15,
    }
    r = entropy_rate(_chain_df(spark, streams)).collect()[0]
    assert r.entropy_nats == 0.0

    empty = entropy_rate(
        _chain_df(spark, {"u": ["only"]})
    ).collect()[0]
    assert empty.n_transitions is None or empty.n_transitions == 0
    assert empty.entropy_nats is None


# weekday_page ------------------------------------------------------


def _page_events(spark, day_counts, g="g"):
    """day_counts: {epoch_day: n_events}"""
    import datetime

    rows = []
    for d, n in day_counts.items():
        ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(
            days=int(d)
        )
        rows += [(g, ts)] * int(n)
    return spark.createDataFrame(
        rows, "event_type string, ts timestamp"
    )


def test_page_monotone_rising_significant(spark):
    from protosc_spark.windows import weekday_page

    # 4 complete weeks, strictly rising within each week
    counts = {}
    for d in range(28):
        counts[d] = 10 + 3 * (d % 7) + 50 * (d // 7)
    r = weekday_page(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    assert r.n_weeks == 4
    # perfect ordering: L = n * sum j*j = 4 * 140 = 560
    assert r.l_stat == 560.0
    assert r.significant is True and r.z > 3


def test_page_reversed_and_flat(spark):
    from protosc_spark.windows import weekday_page

    rev = {d: 40 - 3 * (d % 7) for d in range(28)}
    r = weekday_page(
        _page_events(spark, rev), "event_type"
    ).collect()[0]
    # perfectly decreasing: minimal L = n * sum j*(8-j) = 4*84
    assert r.l_stat == 336.0
    assert r.z < -3 and r.significant is False

    import math

    flat = {d: 20 for d in range(28)}
    r2 = weekday_page(
        _page_events(spark, flat), "event_type"
    ).collect()[0]
    # all tied: every doubled midrank = 8, L2 = n*sum m*8 = 4*224,
    # L = 448... wait: all-tied L = n * mean = n*112? compute:
    # dmid = 2*0 + 7 + 1 = 15? no: within a week all 7 values equal
    # -> one histogram row c=7, less=0, dmid = 2*0+7+1 = 15,
    # R2_wd = n*15 each, L2 = 15*n*sum(m) = 15*4*28 = 1680,
    # L = 840? E[L2]=224n=896... hmm all-tied lands at the null
    # MEAN of doubled ranks: dmid=8 would be (k+1); with ties the
    # midrank of all-7-tied is (7+1)/2=4 -> doubled 8. Recheck:
    # dmid = 2*less + c + 1 = 0 + 7 + 1 = 8. yes 8.
    # L2 = 8 * 4 * 28 = 896 = E[L2] -> z = 0.
    assert r2.l_stat == 448.0
    assert r2.z == 0.0 and r2.significant is False


def test_page_incomplete_weeks_excluded(spark):
    from protosc_spark.windows import weekday_page

    counts = {d: 10 + (d % 7) for d in range(26)}  # last week short
    r = weekday_page(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    assert r.n_weeks == 3

    none = weekday_page(
        _page_events(spark, {0: 5, 1: 6}), "event_type"
    ).collect()[0]
    assert none.n_weeks == 0 and none.l_stat is None


# durbin_watson -----------------------------------------------------


def test_dw_alternating_residuals_negative(spark):
    from protosc_spark.windows import durbin_watson

    # flat line + alternating residual: e flips sign every day,
    # DW -> 4 (negative autocorrelation)
    counts = {d: 50 + (10 if d % 2 == 0 else -10) for d in
              range(40)}
    r = durbin_watson(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    assert r.verdict == "negative" and r.dw > 3.5
    assert abs(r.slope) < 0.2


def test_dw_smooth_wave_positive(spark):
    from protosc_spark.windows import durbin_watson

    import math

    # slow sine on a trend: residuals move smoothly -> DW small
    counts = {
        d: int(200 + 5 * d + 80 * math.sin(2 * math.pi * d / 14))
        for d in range(42)
    }
    r = durbin_watson(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    assert r.verdict == "positive" and r.dw < 1.0
    assert 3.5 < r.slope < 6.5


def test_dw_digit_exact_replay(spark):
    from protosc_spark.windows import durbin_watson

    import math
    import random

    rng = random.Random(41)
    counts = {d: rng.randint(10, 60) for d in range(30)}
    r = durbin_watson(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    days = sorted(counts)
    n = len(days)
    ts_ = list(range(n))
    ys = [counts[d] for d in days]
    st, sy = sum(ts_), sum(ys)
    stt = sum(t * t for t in ts_)
    sty = sum(t * y for t, y in zip(ts_, ys))
    b = float(n * sty - st * sy) / float(n * stt - st * st)
    a = (float(sy) - b * float(st)) / float(n)
    eq = [
        math.floor((float(y) - (a + b * float(t))) * 1e6)
        for t, y in zip(ts_, ys)
    ]
    num = sum(
        (e2 - e1) ** 2 for e1, e2 in zip(eq, eq[1:])
    )
    den = sum(e * e for e in eq)
    assert r.dw == float(num) / float(den)
    assert r.slope == b and r.n_days == n
    assert r.rho1 == 1.0 - r.dw / 2.0


def test_dw_perfect_line_null(spark):
    from protosc_spark.windows import durbin_watson

    counts = {d: 10 + 5 * d for d in range(10)}
    r = durbin_watson(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    # residuals exactly zero everywhere -> den 0 -> NULL readout
    assert r.dw is None and r.verdict is None


# seasonal_strength -------------------------------------------------


def test_seasonal_strength_pure_trend(spark):
    from protosc_spark.windows import seasonal_strength

    import random

    rng = random.Random(3)
    counts = {
        d: 100 + 10 * d + rng.randint(-3, 3) for d in range(35)
    }
    r = seasonal_strength(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    assert r.trend_strength > 0.95
    assert r.seasonal_strength < 0.4
    assert 9 < r.slope < 11


def test_seasonal_strength_pure_rhythm(spark):
    from protosc_spark.windows import seasonal_strength

    import random

    rng = random.Random(5)
    wave = [10, 20, 40, 80, 40, 20, 10]  # peak at wd 3
    counts = {
        d: 100 + wave[d % 7] + rng.randint(-2, 2)
        for d in range(42)
    }
    r = seasonal_strength(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    assert r.seasonal_strength > 0.9
    assert r.trend_strength < 0.4
    assert r.peak_wd == 3
    assert r.trough_wd in (0, 6)  # wave ties at 10: smallest wd
    assert r.trough_wd == 0


def test_seasonal_strength_replay_and_short(spark):
    from protosc_spark.windows import seasonal_strength

    import math
    import random

    rng = random.Random(11)
    counts = {d: rng.randint(50, 150) for d in range(30)}
    r = seasonal_strength(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    days = sorted(counts)
    ys = [counts[d] for d in days]
    n = len(days)
    ts_ = list(range(n))
    st, sy = sum(ts_), sum(ys)
    stt = sum(t * t for t in ts_)
    sty = sum(t * y for t, y in zip(ts_, ys))
    b = float(n * sty - st * sy) / float(n * stt - st * st)
    a = (float(sy) - b * float(st)) / float(n)
    dq = [
        math.floor((float(y) - (a + b * float(t))) * 1e6)
        for t, y in zip(ts_, ys)
    ]
    from collections import defaultdict

    bywd = defaultdict(list)
    for d, v in zip(days, dq):
        bywd[d % 7].append(v)
    s = {
        wd: math.floor(float(sum(vs)) / float(len(vs)))
        for wd, vs in bywd.items()
    }
    rr = [v - s[d % 7] for d, v in zip(days, dq)]
    ta = [y * 10**6 - s[d % 7] for d, y in zip(days, ys)]

    def _var2(xs):
        return n * sum(x * x for x in xs) - sum(xs) ** 2

    fs = max(1.0 - float(_var2(rr)) / float(_var2(dq)), 0.0)
    ft = max(1.0 - float(_var2(rr)) / float(_var2(ta)), 0.0)
    assert r.seasonal_strength == fs
    assert r.trend_strength == ft

    short = seasonal_strength(
        _page_events(spark, {d: 10 for d in range(10)}),
        "event_type",
    ).collect()[0]
    assert short.trend_strength is None
    assert short.peak_wd is None


# holt_winters ------------------------------------------------------


def _hw_ref(counts, alpha=0.3, beta=0.1, gamma=0.2):
    import math

    days = sorted(counts)
    ys = [float(counts[d]) for d in days]
    n = len(days)
    ac, bc, gc = 1.0 - alpha, 1.0 - beta, 1.0 - gamma

    def _lsum(vals):
        acc = 0.0
        for v in vals:
            acc = acc + v
        return acc

    l = _lsum(ys[:7]) / 7.0
    b = (_lsum(ys[7:14]) - _lsum(ys[:7])) / 49.0
    s = [0.0] * 7
    for d, y in zip(days[:7], ys[:7]):
        s[d % 7] = y - l
    sse = sae = 0.0
    k = 0
    for d, y in zip(days[7:], ys[7:]):
        p = d % 7
        sp = s[p]
        err = y - (l + b + sp)
        l2 = alpha * (y - sp) + ac * (l + b)
        b2 = beta * (l2 - l) + bc * b
        s[p] = gamma * (y - l2) + gc * sp
        if k >= 7:
            sse = sse + err * err
            sae = sae + abs(err)
        k += 1
        l, b = l2, b2
    nxt = (days[-1] + 1) % 7
    fc = l + b + s[nxt]
    return (
        l, b, s, fc,
        math.sqrt(sse / (n - 14)), sae / (n - 14),
    )


def test_holt_winters_digit_exact_replay(spark):
    from protosc_spark.windows import holt_winters

    import random

    rng = random.Random(77)
    counts = {d: rng.randint(50, 200) for d in range(40)}
    r = holt_winters(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    l, b, s, fc, rmse, mae = _hw_ref(counts)
    assert r.n_days == 40
    assert r.level == l and r.trend == b
    assert list(r.season) == s
    assert r.forecast == fc
    assert r.rmse == rmse and r.mae == mae


def test_holt_winters_learns_rhythm(spark):
    from protosc_spark.windows import holt_winters
    from protosc_spark.windows import holt_trend

    wave = [0, 10, 30, 60, 30, 10, 0]
    counts = {
        d: 100 + 2 * d + wave[d % 7] for d in range(70)
    }
    hw = holt_winters(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    h = holt_trend(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    # the seasonal state must rank weekday 3 highest
    s = list(hw.season)
    assert max(range(7), key=lambda p: s[p]) == 3
    # and HW's one-step error must crush seasonal-blind Holt's
    assert hw.rmse < 0.35 * h.rmse
    # forecast for day 70 (wd 0): near 100 + 140 + 0
    assert abs(hw.forecast - (100 + 2 * 70 + wave[0])) < 12


def test_holt_winters_short_series_null(spark):
    from protosc_spark.windows import holt_winters

    r = holt_winters(
        _page_events(spark, {d: 10 for d in range(13)}),
        "event_type",
    ).collect()[0]
    assert r.level is None and r.season is None

    r14 = holt_winters(
        _page_events(spark, {d: 10 + d for d in range(14)}),
        "event_type",
    ).collect()[0]
    assert r14.level is not None and r14.rmse is None


# calendar_coverage -------------------------------------------------


def test_calendar_coverage_gaps(spark):
    from protosc_spark.windows import calendar_coverage

    # days 0-4 present, 5-7 missing, 8-9 present, 10 missing, 11
    present = [0, 1, 2, 3, 4, 8, 9, 11]
    counts = {d: 3 for d in present}
    r = calendar_coverage(
        _page_events(spark, counts), "event_type"
    ).collect()[0]
    assert (r.first_day, r.last_day) == (19723 + 0 - 19723, 11)
    assert r.span_days == 12 and r.observed_days == 8
    assert r.missing_days == 4 and r.longest_gap == 3
    assert r.coverage == 8.0 / 12.0


def test_calendar_coverage_complete_and_single(spark):
    from protosc_spark.windows import calendar_coverage

    full = calendar_coverage(
        _page_events(spark, {d: 1 for d in range(10)}),
        "event_type",
    ).collect()[0]
    assert full.missing_days == 0 and full.longest_gap == 0
    assert full.coverage == 1.0

    one = calendar_coverage(
        _page_events(spark, {5: 2}), "event_type"
    ).collect()[0]
    assert one.span_days == 1 and one.coverage == 1.0
    assert one.longest_gap == 0


# anomaly_days ------------------------------------------------------


def test_anomaly_days_flags_spike_not_rhythm(spark):
    from protosc_spark.windows import anomaly_days

    wave = [0, 4, 8, 12, 8, 4, 0]
    counts = {d: 100 + wave[d % 7] for d in range(42)}
    counts[20] += 200  # the anomaly
    out = anomaly_days(
        _page_events(spark, counts), "event_type"
    ).collect()
    assert [r.day for r in out] == [20]
    assert out[0].z > 3 and out[0].volume == counts[20]
    # expected sits near the rhythm-adjusted level, not raw mean
    assert abs(out[0].expected - (100 + wave[20 % 7])) < 40

    clean = anomaly_days(
        _page_events(
            spark, {d: 100 + wave[d % 7] for d in range(42)}
        ),
        "event_type",
    ).collect()
    assert clean == []


def test_anomaly_days_short_series_silent(spark):
    from protosc_spark.windows import anomaly_days

    counts = {d: 10 for d in range(10)}
    counts[5] = 500
    out = anomaly_days(
        _page_events(spark, counts), "event_type"
    ).collect()
    assert out == []  # below the 14-day floor: never page


# burst_intervals ---------------------------------------------------


def _burst_ref(counts, s=3.0, gamma=1.0):
    """Python replay of the exact Viterbi fold."""
    import math

    days = sorted(counts)
    ys = [float(counts[d]) for d in days]
    n = len(days)
    lam0 = sum(counts.values()) / float(n)
    lam1 = s * lam0
    pen = gamma * math.log(float(n))
    c0, c1 = 0.0, pen
    h0, h1 = [], []
    for y in ys:
        cost0 = lam0 - y * math.log(lam0)
        cost1 = lam1 - y * math.log(lam1)
        enter = c0 + pen
        if enter < c1:
            c1n, h1n = enter + cost1, h0 + [1]
        else:
            c1n, h1n = c1 + cost1, h1 + [1]
        if c1 < c0:
            c0n, h0n = c1 + cost0, h1 + [0]
        else:
            c0n, h0n = c0 + cost0, h0 + [0]
        c0, c1, h0, h1 = c0n, c1n, h0n, h1n
    best = h1 if c1 < c0 else h0
    return dict(zip(days, best))


def test_burst_intervals_planted_window(spark):
    from protosc_spark.windows import burst_intervals

    counts = {d: 20 for d in range(40)}
    for d in range(20, 25):
        counts[d] = 90
    out = burst_intervals(
        _page_events(spark, counts), "event_type"
    ).collect()
    assert len(out) == 1
    b = out[0]
    assert (b.start_day, b.end_day) == (20, 24)
    assert b.n_days == 5 and b.volume == 450
    assert b.intensity > 2.5
    # decoded states must match the Python Viterbi exactly
    ref = _burst_ref(counts)
    assert [d for d, st in sorted(ref.items()) if st == 1] == [
        20, 21, 22, 23, 24
    ]


def test_burst_intervals_two_bursts_and_clean(spark):
    from protosc_spark.windows import burst_intervals

    counts = {d: 30 for d in range(60)}
    for d in (10, 11, 12):
        counts[d] = 150
    for d in (40, 41, 42, 43):
        counts[d] = 120
    out = sorted(
        burst_intervals(
            _page_events(spark, counts), "event_type"
        ).collect(),
        key=lambda r: r.start_day,
    )
    assert [(r.start_day, r.end_day) for r in out] == [
        (10, 12), (40, 43)
    ]

    clean = burst_intervals(
        _page_events(spark, {d: 25 for d in range(60)}),
        "event_type",
    ).collect()
    assert clean == []


def test_burst_intervals_penalty_suppresses_blips(spark):
    from protosc_spark.windows import burst_intervals

    counts = {d: 50 for d in range(50)}
    counts[25] = 72  # a mild one-day blip: not worth gamma ln T
    out = burst_intervals(
        _page_events(spark, counts), "event_type"
    ).collect()
    assert out == []
    # but a strong one-day spike IS worth entering for
    counts[25] = 300
    out2 = burst_intervals(
        _page_events(spark, counts), "event_type"
    ).collect()
    assert [(r.start_day, r.end_day) for r in out2] == [(25, 25)]


# ------------------------------------------------------- time decay
class TestTimeDecayFeatures:
    def test_half_life_exact(self, spark):
        import datetime as dt

        t0 = dt.datetime(2025, 1, 1)
        rows = [
            ("c", 0, "user", "a b c", None, t0),
            ("c", 1, "assistant", "x", None,
             t0 + dt.timedelta(seconds=1800)),
            ("c", 2, "user", "y", None,
             t0 + dt.timedelta(seconds=3600)),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, "
            "text string, tool string, ts timestamp"
        )
        from protosc_spark.windows import time_decay_features
        from pyspark.sql import functions as F

        out = {
            r["turn_idx"]: r
            for r in time_decay_features(
                df,
                F.size(F.split("text", " ")).cast("double"),
                half_life_s=1800.0,
            ).collect()
        }
        assert out[0]["decayed_count"] == 0.0
        assert abs(out[1]["decayed_count"] - 0.5) < 1e-12
        assert abs(out[1]["decayed_value"] - 1.5) < 1e-12  # 3 tokens halved
        # turn 2 at t0+3600: turn0 two half-lives back (0.25), turn1
        # one half-life back (0.5)
        assert abs(out[2]["decayed_count"] - 0.75) < 1e-12
        assert abs(out[2]["decayed_value"] - (3 * 0.25 + 1 * 0.5)) < 1e-12

    def test_brute_force_replay_and_leakage(self, spark):
        import math

        from protosc_spark.datagen import generate_transcripts
        from protosc_spark.windows import time_decay_features
        from pyspark.sql import functions as F

        tr = generate_transcripts(spark, n_conversations=25, seed=17)
        val = F.size(F.split("text", " ")).cast("double")
        pdf = time_decay_features(tr, val, half_life_s=900.0).toPandas()
        src = tr.toPandas()
        lam = math.log(2) / (900 * 1e6)
        for cid in sorted(src.conv_id.unique())[:5]:
            g = (
                src[src.conv_id == cid]
                .sort_values("turn_idx")
                .reset_index()
            )
            us = (g.ts.astype("int64") // 1000).values
            v = g.text.str.split(" ").str.len().astype(float).values
            got = pdf[pdf.conv_id == cid].set_index("turn_idx")
            for i in range(len(g)):
                dc = sum(
                    math.exp(-lam * (us[i] - us[j])) for j in range(i)
                )
                dv = sum(
                    v[j] * math.exp(-lam * (us[i] - us[j]))
                    for j in range(i)
                )
                r = got.loc[g.turn_idx[i]]
                assert abs(r.decayed_count - dc) <= 1e-9 * max(1, dc)
                assert abs(r.decayed_value - dv) <= 1e-9 * max(1, dv)
        # zero temporal leakage: dropping every turn AFTER a cut leaves
        # the features of earlier turns bit-identical
        cut = 7
        trunc = time_decay_features(
            tr.where(F.col("turn_idx") < cut), val, half_life_s=900.0
        ).toPandas()
        full = pdf[pdf.turn_idx < cut]
        m = full.merge(
            trunc, on=["conv_id", "turn_idx"], suffixes=("_f", "_t")
        )
        assert len(m) == len(full)
        assert (m.decayed_count_f == m.decayed_count_t).all()
        assert (m.decayed_value_f == m.decayed_value_t).all()

    def test_parallelism_invariant(self, spark):
        from protosc_spark.datagen import generate_transcripts
        from protosc_spark.windows import time_decay_features

        tr = generate_transcripts(spark, n_conversations=30, seed=23)
        a = time_decay_features(tr.repartition(1), None)
        b = time_decay_features(tr.repartition(13, "text"), None)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )


def test_time_decay_null_values_contribute_zero(spark):
    import datetime as dt

    from protosc_spark.windows import time_decay_features
    from pyspark.sql import functions as F

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        ("c", 0, "user", "a", None, t0),
        ("c", 1, "user", None, None,
         t0 + dt.timedelta(seconds=10)),
        ("c", 2, "user", "b", None,
         t0 + dt.timedelta(seconds=20)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp"
    )
    # value = token count of text; NULL text -> NULL size -> must
    # contribute zero, not poison the fold
    out = {
        r["turn_idx"]: r
        for r in time_decay_features(
            df, F.size(F.split("text", " ")).cast("double"),
            half_life_s=1e9,
        ).collect()
    }
    assert abs(out[2]["decayed_value"] - 1.0) < 1e-6
    assert abs(out[2]["decayed_count"] - 2.0) < 1e-6
    assert out[1]["decayed_value"] is not None


def test_time_decay_bigint_order_col(spark):
    """The order column keeps its own type: a BIGINT turn index
    (row_number()'s type) folds like an INT one."""
    import datetime as dt

    from protosc_spark.windows import time_decay_features

    t0 = dt.datetime(2025, 1, 1)
    df = spark.createDataFrame(
        [("c", 0, t0), ("c", 1, t0 + dt.timedelta(seconds=3600))],
        "conv_id string, turn_idx bigint, ts timestamp",
    )
    out = time_decay_features(df, half_life_s=3600.0)
    assert out.schema["turn_idx"].dataType.simpleString() == "bigint"
    got = {r.turn_idx: r.decayed_count for r in out.collect()}
    assert got[0] == 0.0 and abs(got[1] - 0.5) < 1e-12


def test_time_decay_custom_entity_and_order_cols(spark, events):
    """Kernel generality: entity/order/ts column names are
    parameters (the events gate uses user_id/rank), and the fold's
    output keys match the input's rank exactly."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from protosc_spark.windows import time_decay_features

    rk = F.row_number().over(
        W.partitionBy("user_id").orderBy("ts", "event_id")
    )
    base = events.select(
        "user_id", "ts", "value", rk.cast("int").alias("rk")
    )
    out = time_decay_features(
        base, "value", half_life_s=86400.0,
        entity_col="user_id", order_col="rk", ts_col="ts",
    )
    got = out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rk").alias("mx")
    ).collect()
    want = {r["user_id"]: r["n"] for r in
            base.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in got:
        assert r["n"] == want[r["user_id"]] and r["mx"] == r["n"]


# --- the calendar family's NULL rule and hostile inputs ----------------
#
# Every calendar statistic reads the one (slice, epoch day) -> count
# table, whose builder drops rows with a NULL timestamp or a NULL slice
# key. So adding such rows to an input must leave every output
# unchanged, and degenerate inputs (no rows, one row) must give a
# defined result instead of raising.

def _cal_calls():
    import protosc_spark.windows as win

    def keyed(name, **kw):
        return name, (lambda df: getattr(win, name)(df, "g", **kw)), "g"

    calls = [keyed(n) for n in (
        "volume_trend", "volume_cusum", "volume_ewma", "volume_acf",
        "trend_mk", "weekday_anova", "volume_ccf", "holt_trend",
        "volume_breakpoint", "volume_pacf", "weekday_index",
        "volume_dispersion", "volume_pettitt", "volume_runs_test",
        "volume_hurst", "weekday_friedman", "weekday_page",
        "durbin_watson", "seasonal_strength", "holt_winters",
        "calendar_coverage", "burst_intervals",
    )]
    calls += [
        keyed("topk_churn", k=2),
        keyed("anomaly_days", z_crit=2.0),
        # the one keyless member: no slice key to NULL
        ("daily_rate_wilson",
         lambda df: win.daily_rate_wilson(df, "g", "a"), None),
    ]
    return calls


_CAL_CALLS = _cal_calls()
_CAL_CASES = ("null_ts", "null_key", "empty", "one_row")


def _cal_rows():
    """Three slices over five complete epoch weeks: a weekly rhythm on
    a rising line (a), a flat slice with a 4-day burst (b) and a
    shorter slice with a 3-day hole (c)."""
    import datetime as dt

    t0 = dt.datetime(1970, 1, 1, 6, 30)  # epoch day 0 is a week start
    rows = []
    for d in range(35):
        day = t0 + dt.timedelta(days=d)
        rows += [("a", day)] * (3 + d % 7 + d // 7)
        rows += [("b", day)] * (25 if 20 <= d < 24 else 5 + (3 * d) % 4)
        if d < 30 and not 10 <= d < 13:
            rows += [("c", day)] * (2 + d % 3)
    return rows


def _cal_output(df):
    return sorted(repr(r) for r in df.collect())


@pytest.fixture(scope="module")
def cal_base(spark):
    schema = "g string, ts timestamp"
    rows = _cal_rows()
    frames = {
        "base": spark.createDataFrame(rows, schema),
        "null_ts": spark.createDataFrame(
            rows + [("a", None), ("b", None), (None, None)], schema
        ),
        "null_key": spark.createDataFrame(
            rows + [(None, t) for g, t in rows if g == "a"], schema
        ),
        "empty": spark.createDataFrame([], schema),
        "one_row": spark.createDataFrame(rows[:1], schema),
    }
    return frames, {}


@pytest.mark.parametrize(
    "case, call",
    [
        pytest.param(case, call, id=f"{case}-{call[0]}")
        for call in _CAL_CALLS
        for case in _CAL_CASES
    ],
)
def test_calendar_family_drops_null_rows(cal_base, case, call):
    """NULL-ts rows, and a copy of slice ``a`` under a NULL key, leave
    every calendar statistic equal to its output on the clean input;
    an empty frame gives no rows and a one-row frame at most one
    row. The keyless ``daily_rate_wilson`` has no key to NULL, so its
    ``null_key`` input is the clean fixture."""
    frames, cache = cal_base
    name, fn, key = call
    if case == "empty":
        assert fn(frames["empty"]).collect() == []
        return
    if case == "one_row":
        assert len(fn(frames["one_row"]).collect()) <= 1
        return
    if name not in cache:
        cache[name] = _cal_output(fn(frames["base"]))
    want = cache[name]
    assert want, name  # the fixture exercises every statistic
    src = frames["base"] if case == "null_key" and key is None else (
        frames[case]
    )
    assert _cal_output(fn(src)) == want

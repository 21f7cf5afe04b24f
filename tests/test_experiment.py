"""A/B readout (experiment.py): deterministic split, grid semantics,
z statistic."""

import math

import pytest
from pyspark.sql import functions as F

from protosc_spark.experiment import ab_readout
from protosc_spark.sampling import hash_bucket
from protosc_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_experiment")


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string"
    )


def test_ab_matches_pure_python_recomputation(spark):
    """Recompute variants (same md5 rule), grid conversions and the
    pooled z in pure python; the operator must match exactly —
    including users with ZERO events of a type counting in their
    variant's denominator."""
    import hashlib

    rows = [(u, t) for u in range(40) for t in "XY"
            for _ in range(u % 4)]  # user u emits u%4 of each type
    rows += [(99, "X")]  # user 99 never emits Y
    df = _events(spark, rows)
    out = {r.event_type: r for r in
           ab_readout(df, threshold=2).collect()}

    def variant(u):
        h = hashlib.md5(f"exp1\x1f{u}".encode()).hexdigest()
        return int(h[:15], 16) % 2

    users = sorted({u for u, _ in rows})
    for t in "XY":
        n = {0: 0, 1: 0}
        conv = {0: 0, 1: 0}
        for u in users:
            v = variant(u)
            n[v] += 1
            c = sum(1 for uu, tt in rows if uu == u and tt == t)
            conv[v] += int(c >= 2)
        r = out[t]
        assert (r.n_a, r.n_b) == (n[0], n[1])
        assert (r.conv_a, r.conv_b) == (conv[0], conv[1])
        p = (conv[0] + conv[1]) / (n[0] + n[1])
        z = (conv[1] / n[1] - conv[0] / n[0]) / math.sqrt(
            p * (1 - p) * (1 / n[0] + 1 / n[1])
        )
        assert abs(r.z - z) < 1e-12


def test_ab_degenerate_rates_give_null_z(spark):
    """Everyone converts (threshold=1, every user emits the type):
    pooled rate 1 -> z undefined -> NULL, rates still 1.0."""
    rows = [(u, "X") for u in range(20)]
    r = ab_readout(_events(spark, rows), threshold=1).collect()[0]
    assert r.rate_a == 1.0 and r.rate_b == 1.0 and r.z is None


def test_ab_plan_no_python(spark):
    df = _events(spark, [(1, "X")])
    plan = (
        ab_readout(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# welch_ttest
# ---------------------------------------------------------------------------

def _welch_bruteforce(xs_a, xs_b):
    import numpy as np

    a, b = np.asarray(xs_a, float), np.asarray(xs_b, float)
    va, vb = a.var(ddof=1), b.var(ddof=1)
    na, nb = len(a), len(b)
    se2 = va / na + vb / nb
    t = (b.mean() - a.mean()) / se2 ** 0.5
    dof = se2 ** 2 / (
        (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
    )
    return t, dof


def test_welch_matches_bruteforce(spark):
    """Pin the statistic itself: ids chosen so the md5 rule puts
    them in known variants (recomputed in-test), values exact at
    1e-6 so quantization is the identity."""
    import hashlib

    from protosc_spark.experiment import welch_ttest

    def variant(uid, salt="exp1"):
        h = hashlib.md5(f"{salt}\x1f{uid}".encode()).hexdigest()
        return int(h[:15], 16) % 2

    rows = [
        (uid, "m", float(v))
        for uid, v in zip(range(1, 25), [
            12.5, 9.25, 14.0, 8.75, 11.0, 13.5, 7.25, 10.0,
            15.5, 9.0, 12.0, 8.5, 13.25, 10.75, 11.5, 9.75,
            14.5, 8.0, 12.75, 10.25, 13.0, 9.5, 11.25, 10.5,
        ])
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_type string, value double"
    )
    r = welch_ttest(df, "user_id", "event_type", "value").collect()[0]
    xs_a = [v for uid, _, v in rows if variant(uid) == 0]
    xs_b = [v for uid, _, v in rows if variant(uid) == 1]
    t, dof = _welch_bruteforce(xs_a, xs_b)
    assert r.n_a == len(xs_a) and r.n_b == len(xs_b)
    assert abs(r.mean_a - sum(xs_a) / len(xs_a)) < 1e-9
    assert abs(r.t - t) < 1e-9 and abs(r.dof - dof) < 1e-9


def test_welch_degenerate_nulls(spark):
    """< 2 rows in a variant, or zero variance on both sides, must
    yield NULL t/dof (the statistic is undefined, not zero)."""
    import hashlib

    from protosc_spark.experiment import welch_ttest

    def variant(uid):
        h = hashlib.md5(f"exp1\x1f{uid}".encode()).hexdigest()
        return int(h[:15], 16) % 2

    a_ids = [u for u in range(1, 60) if variant(u) == 0]
    b_ids = [u for u in range(1, 60) if variant(u) == 1]
    # exactly one row in variant b
    rows = [(u, "m", 1.0 * i) for i, u in enumerate(a_ids[:4])]
    rows.append((b_ids[0], "m", 5.0))
    df = spark.createDataFrame(
        rows, "user_id bigint, event_type string, value double"
    )
    r = welch_ttest(df, "user_id", "event_type", "value").collect()[0]
    assert r.n_b == 1 and r.t is None and r.dof is None
    # constant metric on both sides: se2 = 0 -> NULL
    rows = [(u, "m", 7.0) for u in a_ids[:3] + b_ids[:3]]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_type string, value double"
    )
    r = welch_ttest(df, "user_id", "event_type", "value").collect()[0]
    assert r.t is None and r.dof is None
    assert r.mean_a == 7.0 and r.mean_b == 7.0


# --- CUPED ---


def _cuped_bruteforce(users):
    """users: list of (variant, x, y). Returns the full readout."""
    import math

    import numpy as np

    v = np.array([u[0] for u in users])
    x = np.array([u[1] for u in users], dtype=float)
    y = np.array([u[2] for u in users], dtype=float)
    vx = len(x) * (x * x).sum() - x.sum() ** 2
    vy = len(x) * (y * y).sum() - y.sum() ** 2
    cxy = len(x) * (x * y).sum() - x.sum() * y.sum()
    theta = cxy / vx if vx > 0 else 0.0
    xbar = x.mean()
    out = {}
    for tag, m in (("a", v == 0), ("b", v == 1)):
        xa, ya = x[m], y[m]
        out[f"n_{tag}"] = int(m.sum())
        out[f"mean_{tag}"] = ya.mean()
        out[f"adj_{tag}"] = ya.mean() - theta * (xa.mean() - xbar)
        adj_vals = ya - theta * (xa - xbar)
        out[f"var_y_{tag}"] = ya.var(ddof=1)
        out[f"var_adj_{tag}"] = adj_vals.var(ddof=1)
    out["theta"] = theta
    out["raw_diff"] = out["mean_b"] - out["mean_a"]
    out["adj_diff"] = out["adj_b"] - out["adj_a"]
    out["z_raw"] = out["raw_diff"] / math.sqrt(
        out["var_y_a"] / out["n_a"] + out["var_y_b"] / out["n_b"]
    )
    out["z_adj"] = out["adj_diff"] / math.sqrt(
        out["var_adj_a"] / out["n_a"] + out["var_adj_b"] / out["n_b"]
    )
    out["rho2"] = cxy**2 / (vx * vy) if vx > 0 and vy > 0 else None
    return out


def test_cuped_matches_bruteforce_and_reduces_variance(spark):
    from protosc_spark.experiment import cuped_readout
    from protosc_spark.sampling import hash_bucket

    # y strongly tracks x (rho^2 high) so CUPED shrinks the SE a lot
    rows = []
    for uid in range(400):
        x = (uid * 13) % 9  # "views"
        y = x + (uid % 3)  # "purchases" track views + noise
        rows += [(uid, "view")] * x + [(uid, "purchase")] * y
        if x == 0 and y == 0:
            rows.append((uid, "click"))  # user still in population
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = cuped_readout(df).collect()[0]
    # recover each user's true variant through the engine's own rule
    variants = {
        u.user_id: u.bucket
        for u in df.select("user_id")
        .distinct()
        .select("user_id", hash_bucket(["user_id"], salt="exp1", n_buckets=2))
        .collect()
    }
    users = [
        (variants[uid], (uid * 13) % 9, ((uid * 13) % 9) + (uid % 3))
        for uid in range(400)
    ]
    want = _cuped_bruteforce(users)
    assert (r.n_a, r.n_b) == (want["n_a"], want["n_b"])
    for got, key in [
        (r.mean_a, "mean_a"), (r.mean_b, "mean_b"),
        (r.theta, "theta"), (r.adj_mean_a, "adj_a"),
        (r.adj_mean_b, "adj_b"), (r.raw_diff, "raw_diff"),
        (r.adj_diff, "adj_diff"), (r.z_raw, "z_raw"),
        (r.z_adj, "z_adj"), (r.rho2, "rho2"),
    ]:
        assert abs(got - want[key]) < 1e-9, key
    # the point of CUPED: most of the metric variance is explained
    assert r.rho2 > 0.8
    assert want["var_adj_a"] < 0.3 * want["var_y_a"]


def test_cuped_constant_covariate_degrades_to_raw(spark):
    from protosc_spark.experiment import cuped_readout

    rows = []
    for uid in range(60):
        rows += [(uid, "view")] * 2  # constant covariate
        rows += [(uid, "purchase")] * (uid % 4)
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = cuped_readout(df).collect()[0]
    assert r.theta == 0.0
    assert r.adj_mean_a == r.mean_a and r.adj_mean_b == r.mean_b
    assert r.z_adj == r.z_raw and r.rho2 is None


# --- delta-method ratio metric ---


def _ratio_delta_bruteforce(users):
    import math

    import numpy as np

    out = {}
    for tag, vv in (("a", 0), ("b", 1)):
        x = np.array([u[1] for u in users if u[0] == vv], dtype=float)
        y = np.array([u[2] for u in users if u[0] == vv], dtype=float)
        n = len(x)
        r = y.sum() / x.sum()
        xbar = x.mean()
        s_xx = x.var(ddof=1)
        s_yy = y.var(ddof=1)
        s_xy = ((x - x.mean()) * (y - y.mean())).sum() / (n - 1)
        var = (s_yy - 2 * r * s_xy + r * r * s_xx) / (n * xbar**2)
        out[tag] = (n, r, var)
    diff = out["b"][1] - out["a"][1]
    z = diff / math.sqrt(out["a"][2] + out["b"][2])
    return out, diff, z


def test_ratio_delta_matches_bruteforce(spark):
    from protosc_spark.experiment import ratio_delta_readout
    from protosc_spark.sampling import hash_bucket

    rows = []
    for uid in range(300):
        x = 1 + (uid * 7) % 5  # views (>=1 so ratios are defined)
        y = (uid * 7) % 3  # purchases
        rows += [(uid, "view")] * x + [(uid, "purchase")] * y
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = ratio_delta_readout(df).collect()[0]
    variants = {
        u.user_id: u.bucket
        for u in df.select("user_id")
        .distinct()
        .select(
            "user_id", hash_bucket(["user_id"], salt="exp1", n_buckets=2)
        )
        .collect()
    }
    users = [
        (variants[uid], 1 + (uid * 7) % 5, (uid * 7) % 3)
        for uid in range(300)
    ]
    want, diff, z = _ratio_delta_bruteforce(users)
    assert (r.n_a, r.n_b) == (want["a"][0], want["b"][0])
    assert abs(r.ratio_a - want["a"][1]) < 1e-12
    assert abs(r.ratio_b - want["b"][1]) < 1e-12
    assert abs(r.diff - diff) < 1e-12
    assert abs(r.z - z) < 1e-9
    # the metric itself is a per-view rate, not a per-user mean
    assert 0 < r.ratio_a < 1


def test_ratio_delta_zero_denominator_arm(spark):
    from protosc_spark.experiment import ratio_delta_readout

    # only purchases: both arms have zero views -> NULL ratios/z
    rows = [(uid, "purchase") for uid in range(40)]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = ratio_delta_readout(df).collect()[0]
    assert r.ratio_a is None and r.ratio_b is None and r.z is None


# --- Cochran-Mantel-Haenszel ---


def _cmh_bruteforce(cells):
    """cells: list of (a, n1, c, n0) per stratum."""
    sa = se = sv = orn = ord_ = 0.0
    n = m = 0
    for a, n1, c, n0 in cells:
        t = n1 + n0
        if t <= 1:
            continue
        m1 = a + c
        b, d = n1 - a, n0 - c
        sa += a
        se += n1 * m1 / t
        sv += n1 * n0 * m1 * (t - m1) / (t * t * (t - 1))
        orn += a * d / t
        ord_ += b * c / t
        n += t
        m += m1
    chi2 = (abs(sa - se) - 0.5) ** 2 / sv if sv > 0 else None
    return n, m, chi2, (orn / ord_ if ord_ > 0 else None)


def test_cmh_matches_bruteforce_with_planted_effect(spark):
    from protosc_spark.experiment import cmh_readout
    from protosc_spark.sampling import hash_bucket

    # conversion depends on BOTH variant and stratum so chi2 and
    # OR_MH are non-trivial; derive truth through the engine's rules
    rows = []
    for uid in range(600):
        rows.append((uid, "view"))
    df0 = spark.createDataFrame(rows, "user_id long, event_type string")
    vs = {
        r.user_id: r.bucket
        for r in df0.select("user_id").distinct()
        .select("user_id", hash_bucket(["user_id"], "exp1", 2))
        .collect()
    }
    ss = {
        r.user_id: r.bucket
        for r in df0.select("user_id").distinct()
        .select("user_id", hash_bucket(["user_id"], "strat", 5))
        .collect()
    }
    rows = []
    for uid in range(600):
        rows.append((uid, "view"))
        # treated convert more, and higher strata convert more
        thr = 2 + (2 if vs[uid] == 1 else 0) + ss[uid]
        if (uid * 37) % 10 < thr:
            rows.append((uid, "purchase"))
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = cmh_readout(df).collect()[0]
    cells = {}
    for uid in range(600):
        k = ss[uid]
        a, n1, c, n0 = cells.get(k, (0, 0, 0, 0))
        conv = 1 if (uid * 37) % 10 < 2 + (2 if vs[uid] == 1 else 0) + k else 0
        if vs[uid] == 1:
            a, n1 = a + conv, n1 + 1
        else:
            c, n0 = c + conv, n0 + 1
        cells[k] = (a, n1, c, n0)
    n, m, chi2, or_mh = _cmh_bruteforce(list(cells.values()))
    assert (r.n, r.n_conv, r.n_strata) == (n, m, 5)
    assert abs(r.chi2 - chi2) < 1e-5  # 1e-9-quantized sums
    assert abs(r.or_mh - or_mh) < 1e-5
    assert r.chi2 > 3.84 and r.or_mh > 1.5  # the effect registers


# ---------------------------------------------------------------------------
# rate_ratio_test
# ---------------------------------------------------------------------------

def _rr_bruteforce(users):
    """users: {id: (k_events, t_days, variant)}."""
    import math

    k1 = sum(k for k, t, v in users.values() if v == 1)
    k0 = sum(k for k, t, v in users.values() if v == 0)
    t1 = sum(t for k, t, v in users.values() if v == 1)
    t0 = sum(t for k, t, v in users.values() if v == 0)
    tau = t1 / (t1 + t0)
    kk = k1 + k0
    z = (k1 - kk * tau) / math.sqrt(kk * tau * (1 - tau))
    rr = (k1 / t1) / (k0 / t0) if k0 else None
    return k1, k0, t1, t0, rr, z


def test_rate_ratio_matches_bruteforce(spark):
    import datetime as dt

    from protosc_spark.experiment import rate_ratio_test
    from protosc_spark.sampling import hash_bucket

    # deterministic per-user event streams; exposure = whole days
    # from first to last event inclusive
    rows = []
    spec = {
        f"u{i}": (i % 4, 1 + (i * 7) % 11) for i in range(40)
    }  # (purchases, span_days)
    for uid, (k, span) in spec.items():
        d0 = dt.datetime(2024, 1, 1 + (hash(uid) % 3))
        rows.append((uid, "view", d0))
        rows.append((uid, "view", d0 + dt.timedelta(days=span - 1)))
        for j in range(k):
            rows.append(
                (uid, "purchase", d0 + dt.timedelta(days=j % span))
            )
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, ts timestamp"
    )
    # recover each user's variant with the engine's own hash rule
    vmap = {
        r.user_id: r.v
        for r in df.select("user_id")
        .distinct()
        .select(
            "user_id",
            hash_bucket(["user_id"], salt="exp1", n_buckets=2)
            .alias("v"),
        )
        .collect()
    }
    users = {
        uid: (k, span, vmap[uid]) for uid, (k, span) in spec.items()
    }
    k1, k0, t1, t0, rr, z = _rr_bruteforce(users)
    r = rate_ratio_test(df).collect()[0]
    assert (r.k1, r.k0, r.t1, r.t0) == (k1, k0, t1, t0)
    assert abs(r.rate_ratio - rr) < 1e-12
    assert abs(r.z - z) < 1e-9
    assert r.n_1 + r.n_0 == 40


def test_rate_ratio_null_effect_and_planted(spark):
    import datetime as dt

    from protosc_spark.experiment import rate_ratio_test

    # equal per-day purchase rates in both arms -> |z| small; then
    # triple arm-1 users' purchases (same exposures) -> z sign
    # follows whichever arm got tripled
    base = []
    for i in range(200):
        uid = f"w{i}"
        d0 = dt.datetime(2024, 3, 1)
        base.append((uid, "view", d0))
        base.append((uid, "view", d0 + dt.timedelta(days=9)))
        base.append((uid, "purchase", d0 + dt.timedelta(days=2)))
    df = spark.createDataFrame(
        base, "user_id string, event_type string, ts timestamp"
    )
    r0 = rate_ratio_test(df).collect()[0]
    assert abs(r0.rate_ratio - 1.0) < 1e-9 and abs(r0.z) < 1.0
    extra = [
        (uid, "purchase", dt.datetime(2024, 3, 4))
        for uid, _, _ in base
    ]
    from protosc_spark.sampling import hash_bucket as hb  # noqa: F401

    # add purchases only for variant-1 users via the engine hash
    v1 = {
        r.user_id
        for r in df.select("user_id").distinct().select(
            "user_id",
            hb(["user_id"], salt="exp1", n_buckets=2).alias("v"),
        ).collect()
        if r.v == 1
    }
    boosted = base + [
        (uid, "purchase", dt.datetime(2024, 3, 4))
        for uid in sorted(v1)
        for _ in range(2)
    ]
    dfb = spark.createDataFrame(
        boosted, "user_id string, event_type string, ts timestamp"
    )
    rb = rate_ratio_test(dfb).collect()[0]
    assert rb.rate_ratio > 2.0 and rb.z > 3.0


def test_rate_ratio_plan_no_python(spark):
    import datetime as dt

    from protosc_spark.experiment import rate_ratio_test

    df = spark.createDataFrame(
        [("u", "view", dt.datetime(2024, 1, 1))],
        "user_id string, event_type string, ts timestamp",
    )
    plan = (
        rate_ratio_test(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# effect_size
# ---------------------------------------------------------------------------

def _es_ref(pairs):
    """Integer-moment replay of d and Hedges g."""
    import math

    a = [v for v, y in pairs if y == 1]
    b = [v for v, y in pairs if y == 0]
    n1, n0 = len(a), len(b)
    s1, s0 = sum(a), sum(b)
    q1, q0 = sum(v * v for v in a), sum(v * v for v in b)
    m1, m0 = float(s1) / n1, float(s0) / n0
    ss1 = float(n1 * q1 - s1 * s1) / float(n1)
    ss0 = float(n0 * q0 - s0 * s0) / float(n0)
    sp = math.sqrt((ss1 + ss0) / (float(n1) + float(n0) - 2.0))
    d = (m1 - m0) / sp
    j = 1.0 - 3.0 / (4.0 * (float(n1) + float(n0)) - 9.0)
    return m1, m0, d, d * j


def test_effect_size_planted_shift(spark):
    import random

    from protosc_spark.experiment import effect_size

    rng = random.Random(55)
    pairs = [(rng.randint(90, 110), 0) for _ in range(300)] + [
        (rng.randint(95, 120), 1) for _ in range(250)
    ]
    df = spark.createDataFrame(pairs, "v long, y int")
    r = effect_size(df, "v", "y").collect()[0]
    m1, m0, d, g = _es_ref(pairs)
    assert r.mean_1 == m1 and r.mean_0 == m0
    assert r.d == d and r.g == g
    assert r.d > 0 and abs(r.g) < abs(r.d)


def test_effect_size_magnitude_labels(spark):
    from protosc_spark.experiment import effect_size

    # huge separation: large
    pairs = [(10, 0)] * 20 + [(11, 0), (9, 0)] + [(100, 1)] * 20 \
        + [(101, 1), (99, 1)]
    df = spark.createDataFrame(pairs, "v long, y int")
    r = effect_size(df, "v", "y").collect()[0]
    assert r.magnitude == "large" and r.d > 5

    # identical groups: d = 0, negligible
    pairs = [(5, 0), (7, 0), (5, 1), (7, 1)]
    df = spark.createDataFrame(pairs, "v long, y int")
    r = effect_size(df, "v", "y").collect()[0]
    assert r.d == 0.0 and r.magnitude == "negligible"


def test_effect_size_degenerate(spark):
    from protosc_spark.experiment import effect_size

    # constant everything: pooled sd 0 -> NULL d
    pairs = [(5, 0), (5, 0), (5, 1), (5, 1)]
    df = spark.createDataFrame(pairs, "v long, y int")
    r = effect_size(df, "v", "y").collect()[0]
    assert r.d is None and r.magnitude is None

    # single-row group
    pairs = [(5, 0), (6, 0), (9, 1)]
    df = spark.createDataFrame(pairs, "v long, y int")
    r = effect_size(df, "v", "y").collect()[0]
    assert r.d is None and r.mean_1 == 9.0


# ---------------------------------------------------------------------------
# risk_table
# ---------------------------------------------------------------------------

def _risk_ref(a, b, c, d):
    import math

    z = 1.959963984540054
    n1, n0 = float(a + b), float(c + d)
    p1, p0 = a / n1, c / n0
    rr = p1 / p0
    se_rr = math.sqrt(1.0 / a - 1.0 / n1 + 1.0 / c - 1.0 / n0)
    orr = (a * d) / (b * c)
    se_or = math.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    rd = p1 - p0
    se_rd = math.sqrt(
        p1 * (1.0 - p1) / n1 + p0 * (1.0 - p0) / n0
    )
    return (
        rr, math.exp(math.log(rr) - z * se_rr),
        math.exp(math.log(rr) + z * se_rr),
        orr, math.exp(math.log(orr) - z * se_or),
        math.exp(math.log(orr) + z * se_or),
        rd, rd - z * se_rd, rd + z * se_rd,
    )


def _mk_22(spark, a, b, c, d):
    rows = (
        [(1, 1)] * a + [(1, 0)] * b + [(0, 1)] * c + [(0, 0)] * d
    )
    return spark.createDataFrame(rows, "e int, y int")


def test_risk_table_replay_and_coverage(spark):
    from protosc_spark.experiment import risk_table

    a, b, c, d = 30, 70, 10, 90
    r = risk_table(_mk_22(spark, a, b, c, d), "e", "y").collect()[0]
    ref = _risk_ref(a, b, c, d)
    got = (r.rr, r.rr_lo, r.rr_hi, r.orr, r.or_lo, r.or_hi,
           r.rd, r.rd_lo, r.rd_hi)
    for gv, rv in zip(got, ref):
        # ln/exp are JVM intrinsics: 1-ulp vs libm allowed
        assert abs(gv - rv) < 1e-12, (gv, rv)
    assert (r.a, r.b, r.c, r.d) == (a, b, c, d)
    # a genuine 3x risk: CI excludes 1
    assert abs(r.rr - 3.0) < 1e-12 and r.rr_lo > 1.0
    assert r.or_lo > 1.0 and r.rd_lo > 0.0


def test_risk_table_null_effect_and_zero_cells(spark):
    from protosc_spark.experiment import risk_table

    # identical risks: RR = OR = 1, RD = 0, CIs straddle the null
    r = risk_table(
        _mk_22(spark, 20, 80, 20, 80), "e", "y"
    ).collect()[0]
    assert r.rr == 1.0 and r.orr == 1.0 and r.rd == 0.0
    assert r.rr_lo < 1.0 < r.rr_hi
    assert r.rd_lo < 0.0 < r.rd_hi

    # zero cell: OR family abstains, RD still defined
    r = risk_table(
        _mk_22(spark, 0, 50, 10, 40), "e", "y"
    ).collect()[0]
    assert r.orr is None and r.rr is None
    assert r.rd is not None and r.rd < 0


# power_mde ---------------------------------------------------------


def _pm_events(spark, user_counts):
    """user_counts: {user: n_events_of_type_x}"""
    import datetime

    rows = []
    for u, n in user_counts.items():
        for i in range(n):
            rows.append(
                (
                    u,
                    "x",
                    datetime.datetime(2024, 1, 1)
                    + datetime.timedelta(minutes=i),
                )
            )
    return spark.createDataFrame(
        rows, "user_id string, event_type string, ts timestamp"
    )


def test_power_mde_formula_replay(spark):
    from protosc_spark.experiment import power_mde

    import math

    # 100 users, 30 convert at threshold 5
    counts = {f"u{i}": (6 if i < 30 else 2) for i in range(100)}
    r = power_mde(
        _pm_events(spark, counts), threshold=5, mde_abs=0.05
    ).collect()[0]
    assert r.n_users == 100 and r.conversions == 30
    p, d = 0.3, 0.05
    p2 = p + d
    pbar = (p + p2) / 2.0
    root = 1.959963984540054 * math.sqrt(
        2.0 * pbar * (1.0 - pbar)
    ) + 0.8416212335729143 * math.sqrt(
        p * (1 - p) + p2 * (1 - p2)
    )
    n_req = root * root / (d * d)
    assert r.n_required_per_arm == math.ceil(n_req)
    assert r.powered_now == (50.0 >= n_req)
    assert r.mde_now == (
        1.959963984540054 + 0.8416212335729143
    ) * math.sqrt(2.0 * p * (1 - p) / 50.0)
    # textbook sanity: ~1376 per arm for 30% +- 5pts at 80% power
    assert 1300 < n_req < 1450


def test_power_mde_degenerate_baseline(spark):
    from protosc_spark.experiment import power_mde

    counts = {f"u{i}": 1 for i in range(20)}  # nobody converts
    r = power_mde(
        _pm_events(spark, counts), threshold=5, mde_abs=0.02
    ).collect()[0]
    assert r.baseline_rate == 0.0
    assert r.n_required_per_arm is None and r.mde_now is None


# ----------------------------------------------------- permutation
class TestPermutationTest:
    def _run(self, spark, rows, n_perm=100):
        from protosc_spark.experiment import permutation_test

        df = spark.createDataFrame(
            rows, "doc_id bigint, lang string, n_chars bigint"
        )
        return permutation_test(
            df, "n_chars", "lang", "en", "zh", n_perm=n_perm
        ).collect()[0]

    def test_planted_shift_minimal_p(self, spark):
        rows = [(i, "en", 1000 + i % 3) for i in range(40)]
        rows += [(100 + i, "zh", 10 + i % 3) for i in range(40)]
        r = self._run(spark, rows)
        # shift >> any relabeling: only the identity-like extremes win
        assert r["p_value"] == round(
            (r["n_extreme"] + 1) / 101.0, 6
        )
        assert r["p_value"] < 0.05
        assert r["n_a"] == 40 and r["n_b"] == 40
        assert abs(r["obs_diff"] - 990.0) < 1.0

    def test_null_distribution_large_p(self, spark):
        # identical distributions -> observed diff is tiny, most
        # relabelings are at least as extreme
        rows = [(i, "en", 50 + (i * 7) % 11) for i in range(60)]
        rows += [(200 + i, "zh", 50 + (i * 7) % 11) for i in range(60)]
        r = self._run(spark, rows)
        assert r["p_value"] > 0.2

    def test_python_replay_of_one_permutation(self, spark):
        import hashlib

        rows = [(i, "en", 10 * i) for i in range(6)]
        rows += [(10 + i, "zh", 5 * i) for i in range(6)]
        r = self._run(spark, rows, n_perm=1)

        def flip(b, doc_id):
            h = hashlib.md5(
                f"perm1\x1f{b}\x1f{doc_id}".encode()
            ).hexdigest()
            return int(h[:15], 16) % 2 == 0

        xs = {i: v for i, _, v in rows}
        a = [v for i, v in xs.items() if flip(1, i)]
        b = [v for i, v in xs.items() if not flip(1, i)]
        obs = sum(v for i, g, v in rows if g == "en") / 6 - sum(
            v for i, g, v in rows if g == "zh"
        ) / 6
        if a and b:
            d = sum(a) / len(a) - sum(b) / len(b)
            extreme = abs(d) >= abs(obs)
        else:
            extreme = True
        assert r["n_extreme"] == int(extreme)

    def test_other_groups_and_nulls_excluded(self, spark):
        rows = [(1, "en", 10), (2, "en", 12), (3, "zh", 11),
                (4, "zh", 9), (5, "fr", 99999), (6, "en", None)]
        r = self._run(spark, rows)
        assert r["n_a"] == 2 and r["n_b"] == 2

    def test_fractional_values_raise(self, spark):
        """0.7 vs 0.2 would truncate to 0 vs 0 under a BIGINT cast."""
        from protosc_spark.experiment import permutation_test

        df = spark.createDataFrame(
            [(1, "en", 0.7), (2, "zh", 0.2)],
            "doc_id bigint, lang string, n_chars double",
        )
        with pytest.raises(ValueError, match="permutation_test.*n_chars"):
            permutation_test(df, "n_chars", "lang", "en", "zh")


# ----------------------------------------------------------- sprt
class TestSprtMonitor:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )

    @staticmethod
    def _mk(day, uid, state, n):
        import datetime as dt

        t = dt.datetime(2025, 1, 1) + dt.timedelta(days=day)
        return [
            (uid * 1000 + i, t, uid, state, 1.0, None)
            for i in range(n)
        ]

    def test_high_rate_accepts_h1_at_exact_day(self, spark):
        import math

        rows = []
        # 4 users/day for 5 days, all converting (>=3 events)
        for d in range(5):
            for u in range(4):
                rows += self._mk(d, d * 10 + u, "x", 3)
        from protosc_spark.experiment import sprt_monitor

        r = sprt_monitor(
            self._ev(spark, rows), p0=0.3, p1=0.6,
            conversion_threshold=3,
        ).collect()[0]
        # per converting user llr += ln(2); upper bound ln(0.8/0.05)
        # = ln 16 = 4 ln 2 exactly — but on the integer grid
        # 4*floor(ln2*1e9) sits 2 units BELOW floor(ln16*1e9), so
        # day 0's four conversions do NOT cross (the conservative
        # side of floor quantization) and the crossing lands on
        # day 1 with 8
        assert r["decision"] == "accept_h1"
        day0 = int(
            (__import__("datetime").datetime(2025, 1, 1)
             - __import__("datetime").datetime(1970, 1, 1)).days
        )
        assert r["decision_day"] == day0 + 1
        assert r["n_conversions"] == 20 and r["n_users"] == 20

    def test_low_rate_accepts_h0(self, spark):
        rows = []
        for d in range(6):
            for u in range(5):
                # nobody converts (1 event < threshold 3)
                rows += self._mk(d, d * 10 + u, "x", 1)
        from protosc_spark.experiment import sprt_monitor

        r = sprt_monitor(
            self._ev(spark, rows), p0=0.3, p1=0.6,
            conversion_threshold=3,
        ).collect()[0]
        assert r["decision"] == "accept_h0"
        assert r["n_conversions"] == 0

    def test_borderline_continues(self, spark):
        rows = []
        # one user, converting: llr = ln2 ~ 0.69, inside both bounds
        rows += self._mk(0, 1, "x", 3)
        from protosc_spark.experiment import sprt_monitor

        r = sprt_monitor(
            self._ev(spark, rows), p0=0.3, p1=0.6,
            conversion_threshold=3,
        ).collect()[0]
        assert r["decision"] == "continue"
        assert r["decision_day"] is None
        assert abs(r["llr_final"] - __import__("math").log(2)) < 1e-6

    def test_integer_trajectory_replay(self, spark):
        import math

        rows = []
        plan = [(0, 3, 1), (1, 2, 2), (2, 1, 3)]  # (day, conv, nonconv)
        uid = 0
        for d, conv, non in plan:
            for _ in range(conv):
                rows += self._mk(d, uid, "x", 3)
                uid += 1
            for _ in range(non):
                rows += self._mk(d, uid, "x", 1)
                uid += 1
        from protosc_spark.experiment import sprt_monitor

        r = sprt_monitor(
            self._ev(spark, rows), p0=0.25, p1=0.4,
            conversion_threshold=3, alpha=0.01, beta=0.01,
        ).collect()[0]
        unit = 10**9
        la = math.floor(math.log(0.4 / 0.25) * unit)
        lb = math.floor(math.log(0.6 / 0.75) * unit)
        llr = sum(c * la + n * lb for _, c, n in plan)
        assert r["llr_final"] == round(llr / unit, 6)
        assert r["decision"] == "continue"  # tight bounds, tiny n

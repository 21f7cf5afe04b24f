"""Distributed statistics == numpy oracle (allclose), including ties
and multi-class, on planted simulation data (FIXTURES F2/F4)."""

import numpy as np
import pandas as pd
import pytest

from protosc_spark.oracle.numpy_model import oracle_chisquare
from protosc_spark.oracle.simulation import make_categorical, make_independent
from protosc_spark.stats import (
    chisquare_features,
    correlation_matrix,
    correlation_submatrix,
)


def _to_df(spark, X, y):
    pdf = pd.DataFrame(
        {
            "sample_id": np.arange(len(y), dtype=np.int64),
            "features": list(X.astype(np.float64)),
            "y": y.astype(np.int32),
        }
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def planted(spark):
    np.random.seed(1928374)
    X, y, truth = make_independent(n_features=60, n_samples=200, n_true=10)
    return _to_df(spark, X, y).cache(), X, y, truth


def test_chisquare_matches_numpy(planted):
    df, X, y, _ = planted
    got = chisquare_features(df, n_features=X.shape[1])
    want = oracle_chisquare(X, y)
    assert np.allclose(got, want, atol=1e-9)


# The two call forms that used to pick a ranking path: FilterModel's
# (``approx_rows`` given and small, the per-row window) and the default
# call (range partitioning). ``approx_rows`` is now ignored, so both must
# take the one histogram kernel and give the oracle's H.
CALL_FORMS = pytest.mark.parametrize(
    "call", [{"approx_rows": 200}, {}], ids=["window", "rangepart"]
)


@CALL_FORMS
def test_chisquare_both_methods_match_oracle(planted, call):
    df, X, y, _ = planted
    got = chisquare_features(df, n_features=X.shape[1], **call)
    want = oracle_chisquare(X, y)
    assert np.allclose(got, want, atol=1e-9)


def test_chisquare_inferred_n_features_matches_oracle(planted):
    """Without ``n_features`` the width is read off the largest fid."""
    df, X, y, _ = planted
    got = chisquare_features(df)
    assert got.shape == (X.shape[1],)
    assert np.allclose(got, oracle_chisquare(X, y), atol=1e-9)


@CALL_FORMS
def test_chisquare_constant_feature_is_zero(spark, call):
    """Dead-extractor columns: H := 0 in engine AND oracle, no
    warnings/NaN (VERDICT round 1 'What's wrong #3')."""
    from protosc_spark.numerics import kruskal_h

    rng = np.random.default_rng(9)
    X = rng.normal(size=(120, 4))
    X[:, 2] = 7.5  # constant feature
    y = rng.integers(0, 2, size=120)
    with np.errstate(all="raise"):
        got = chisquare_features(_to_df(spark, X, y), n_features=4, **call)
    assert got[2] == 0.0
    assert not np.isnan(got).any()
    assert kruskal_h(X[y == 0, 2], X[y == 1, 2]) == 0.0
    want = oracle_chisquare(X, y)
    assert np.allclose(got, want, atol=1e-9)


def _nodes(p):
    yield p
    for i in range(p.children().size()):
        yield from _nodes(p.children().apply(i))


def test_chisquare_histogram_plan(spark, planted, monkeypatch):
    """A default call ranks in the JVM off the value histogram: no
    Python stage, no range partitioning, and the rank window reads an
    aggregate (distinct values), not the exploded rows."""
    df, X, _, _ = planted
    seen = []
    cls = type(df)
    to_pandas = cls.toPandas

    def spy(self):
        seen.append(self)
        return to_pandas(self)

    monkeypatch.setattr(cls, "toPandas", spy)
    chisquare_features(df, n_features=X.shape[1])
    (grp,) = seen
    qe = grp._jdf.queryExecution()
    # the cached input prints its own (already run) plan: cut it off
    phys = qe.executedPlan().toString().split("InMemoryRelation")[0]
    for node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert node not in phys
    assert "rangepartitioning" not in phys.lower()
    windows = [
        n for n in _nodes(qe.optimizedPlan()) if n.nodeName() == "Window"
    ]
    assert len(windows) == 1
    child = windows[0].child()
    while child.nodeName() == "Project":
        child = child.child()
    assert child.nodeName() == "Aggregate"


def test_rank_sums_matches_numpy_midranks(spark):
    """``_rank_sums`` against numerics._ranks_and_tiesum on tie-heavy
    values (-0.0 and 0.0 are one value): doubled rank sums per group and
    sum(t^3 - t) exact, pooled (by=[]) and per feature (by=["fid"])."""
    from pyspark.sql import functions as F

    from protosc_spark.numerics import _ranks_and_tiesum
    from protosc_spark.stats import _rank_sums

    rng = np.random.default_rng(11)
    n = 300
    pdf = pd.DataFrame(
        {
            "fid": rng.integers(0, 3, size=n),
            "v": rng.choice([-0.0, 0.0, 0.5, 1.0, 2.5, -3.0], size=n),
            "g": rng.integers(0, 3, size=n),
        }
    )
    rows = spark.createDataFrame(pdf)

    def hist(by):
        return rows.groupBy(*by, "v", "g").agg(F.count(F.lit(1)).alias("c"))

    def check(got, sub):
        ranks, tiesum = _ranks_and_tiesum(sub["v"].to_numpy())
        assert set(got) == set(np.unique(sub["g"]))
        for g, r in got.items():
            in_g = (sub["g"] == g).to_numpy()
            assert int(r["ng"]) == in_g.sum()
            assert int(r["r2g"]) == int(2 * ranks[in_g].sum())
        assert sum(int(r["tie"]) for r in got.values()) == int(tiesum)

    pooled = _rank_sums(hist([]), [])
    assert [f.dataType.simpleString() for f in pooled.schema.fields[1:]] == [
        "decimal(38,0)"
    ] * 3
    check({r["g"]: r for r in pooled.collect()}, pdf)
    per_fid = _rank_sums(hist(["fid"]), ["fid"]).collect()
    for fid, sub in pdf.groupby("fid"):
        check({r["g"]: r for r in per_fid if r["fid"] == fid}, sub)


def test_chisquare_with_ties(spark):
    rng = np.random.default_rng(5)
    X = rng.integers(0, 4, size=(150, 8)).astype(float)  # heavy ties
    y = rng.integers(0, 2, size=150)
    got = chisquare_features(_to_df(spark, X, y), n_features=8)
    want = oracle_chisquare(X, y)
    assert np.allclose(got, want, atol=1e-9)


def test_chisquare_multiclass(spark):
    np.random.seed(44)
    X, y, _ = make_categorical(n_features=30, n_samples=150, n_true=5)
    got = chisquare_features(_to_df(spark, X, y), n_features=30)
    want = oracle_chisquare(X, y)
    # exact rank sums, classes summed in label order as the oracle does
    assert np.array_equal(got, want)


def test_chisquare_detects_planted_signal(planted):
    df, X, y, truth = planted
    h = chisquare_features(df, n_features=X.shape[1])
    top = set(np.argsort(-h)[:10])
    # the strongest planted features dominate the top ranks
    assert len(top & set(truth["selected_features"].tolist())) >= 5


def test_correlation_matches_numpy(planted):
    df, X, _, _ = planted
    got = correlation_matrix(df)
    want = np.corrcoef(X, rowvar=False)
    assert np.allclose(got, want, atol=1e-9)


def test_correlation_submatrix(planted):
    df, X, _, _ = planted
    ids = np.array([3, 7, 11, 42])
    got = correlation_submatrix(df, ids)
    want = np.corrcoef(X[:, ids], rowvar=False)
    assert np.allclose(got, want, atol=1e-9)


# --- exact two-predictor OLS ---


def test_ols2_matches_numpy_lstsq(spark):
    from protosc_spark.stats import ols2_fit

    rng = np.random.default_rng(7)
    x1 = rng.integers(0, 200, 400)
    x2 = rng.integers(0, 50, 400)
    noise = rng.integers(-10, 11, 400)
    y = 17 + 3 * x1 + 11 * x2 + noise
    df = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(x1, x2, y)],
        "x1 long, x2 long, y long",
    )
    r = ols2_fit(df, "y", "x1", "x2").collect()[0]
    A = np.column_stack([np.ones(400), x1, x2])
    coef, *_ = np.linalg.lstsq(A, y.astype(float), rcond=None)
    pred = A @ coef
    ss_res = float(((y - pred) ** 2).sum())
    ss_tot = float(((y - y.mean()) ** 2).sum())
    want_r2 = 1 - ss_res / ss_tot
    assert r.n == 400
    assert abs(r.b0 - coef[0]) < 1e-8
    assert abs(r.b1 - coef[1]) < 1e-10
    assert abs(r.b2 - coef[2]) < 1e-10
    assert abs(r.r2 - want_r2) < 1e-10
    assert r.r2 > 0.99  # the planted signal dominates the noise


def test_ols2_collinear_grouped_and_constant_y(spark):
    from protosc_spark.stats import ols2_fit

    rows = []
    # group "col": x2 = 2*x1 exactly -> singular design -> NULLs
    for i in range(10):
        rows.append(("col", i, 2 * i, 5 + i))
    # group "ok": clean plane y = 1 + 2*x1 + 3*x2, zero residual
    for i in range(10):
        x1, x2 = i, (i * 7) % 5
        rows.append(("ok", x1, x2, 1 + 2 * x1 + 3 * x2))
    # group "flat": constant y -> coefficients exist, r2 NULL
    for i in range(10):
        rows.append(("flat", i, (i * 3) % 4, 42))
    df = spark.createDataFrame(rows, "g string, x1 long, x2 long, y long")
    got = {r.g: r for r in ols2_fit(df, "y", "x1", "x2", "g").collect()}
    assert got["col"].b1 is None and got["col"].r2 is None
    ok = got["ok"]
    assert abs(ok.b0 - 1) < 1e-9 and abs(ok.b1 - 2) < 1e-9
    assert abs(ok.b2 - 3) < 1e-9 and abs(ok.r2 - 1.0) < 1e-12
    flat = got["flat"]
    assert flat.b1 is not None and flat.r2 is None
    assert abs(flat.b0 - 42) < 1e-9
    assert abs(flat.b1) < 1e-9 and abs(flat.b2) < 1e-9


# ---------------------------------------------------------------------------
# partial_corr
# ---------------------------------------------------------------------------

def _pcorr_ref(rows):
    """Integer-moment replay mirroring the kernel's float tree."""
    import math

    n = len(rows)
    sx = sum(r[0] for r in rows)
    sy = sum(r[1] for r in rows)
    sz = sum(r[2] for r in rows)
    sxx = sum(r[0] ** 2 for r in rows)
    syy = sum(r[1] ** 2 for r in rows)
    szz = sum(r[2] ** 2 for r in rows)
    sxy = sum(r[0] * r[1] for r in rows)
    sxz = sum(r[0] * r[2] for r in rows)
    syz = sum(r[1] * r[2] for r in rows)

    def rr(ab, aa, bb, a, b):
        return float(n * ab - a * b) / (
            math.sqrt(float(n * aa - a * a))
            * math.sqrt(float(n * bb - b * b))
        )

    rxy = rr(sxy, sxx, syy, sx, sy)
    rxz = rr(sxz, sxx, szz, sx, sz)
    ryz = rr(syz, syy, szz, sy, sz)
    den = math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
    pr = (rxy - rxz * ryz) / den
    fish = (
        0.5 * math.log((1.0 + pr) / (1.0 - pr))
        * math.sqrt(float(n - 4))
    )
    return rxy, rxz, ryz, pr, fish


def test_pcorr_confounder_collapse(spark):
    import random

    from protosc_spark.stats import partial_corr

    rng = random.Random(33)
    # x and y both driven by z: raw r high, partial near 0
    rows = []
    for _ in range(400):
        zz = rng.randint(0, 100)
        rows.append(
            (zz + rng.randint(-5, 5), zz + rng.randint(-5, 5), zz)
        )
    df = spark.createDataFrame(rows, "x long, y long, z long")
    r = partial_corr(df, "x", "y", "z").collect()[0]
    rxy, rxz, ryz, pr, fish = _pcorr_ref(rows)
    assert r.r_xy == rxy and r.partial_r == pr
    # ln/sqrt are JVM intrinsics: 1-ulp drift allowed on z only
    assert abs(r.z - fish) < 1e-9
    assert r.r_xy > 0.9 and abs(r.partial_r) < 0.2


def test_pcorr_direct_relation_survives(spark):
    import random

    from protosc_spark.stats import partial_corr

    rng = random.Random(44)
    rows = []
    for _ in range(300):
        xx = rng.randint(0, 50)
        zz = rng.randint(0, 50)
        rows.append((xx, 2 * xx + rng.randint(-3, 3), zz))
    df = spark.createDataFrame(rows, "x long, y long, z long")
    r = partial_corr(df, "x", "y", "z").collect()[0]
    rxy, rxz, ryz, pr, fish = _pcorr_ref(rows)
    assert r.partial_r == pr and r.partial_r > 0.9
    assert r.significant is True


def test_pcorr_degenerate(spark):
    from protosc_spark.stats import partial_corr

    # constant z: its variance is 0 -> NULL partial
    rows = [(1, 2, 5), (3, 4, 5), (5, 7, 5)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    r = partial_corr(df, "x", "y", "z").collect()[0]
    assert r.partial_r is None

    # x == z exactly: r_xz = 1 -> denominator 0 -> NULL
    rows = [(i, i * 2 + (i % 3), i) for i in range(10)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    r = partial_corr(df, "x", "y", "z").collect()[0]
    assert r.partial_r is None


# ---------------------------------------------------------------------------
# trimmed_mean
# ---------------------------------------------------------------------------

def _trim_ref(values, trim_milli=50):
    """Literal replay: sort, drop/clamp t each side."""
    s = sorted(values)
    n = len(s)
    t = n * trim_milli // 1000
    mid = s[t:n - t]
    if not mid:
        return n, t, None, None
    tm = sum(mid) / len(mid)
    wm = (sum(mid) + t * mid[0] + t * mid[-1]) / n
    return n, t, tm, wm


def test_trimmed_mean_outlier_resistance(spark):
    import random

    from protosc_spark.stats import trimmed_mean

    rng = random.Random(61)
    vals = [rng.randint(90, 110) for _ in range(95)] + [10**6] * 5
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    r = trimmed_mean(df, "v").collect()[0]
    n, t, tm, wm = _trim_ref(vals)
    assert (r.n, r.n_trim_side) == (n, t) == (100, 5)
    assert r.trimmed_mean == tm and r.winsorized_mean == wm
    # the 5 planted outliers are fully absorbed
    assert 90 <= r.trimmed_mean <= 110
    assert 90 <= r.winsorized_mean <= 110


def test_trimmed_mean_ties_and_groups(spark):
    import random

    from protosc_spark.stats import trimmed_mean

    rng = random.Random(71)
    ga = [rng.randint(0, 5) for _ in range(83)]      # tie-heavy
    gb = [rng.randint(0, 1000) for _ in range(57)]
    rows = [("a", v) for v in ga] + [("b", v) for v in gb]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        r.g: r
        for r in trimmed_mean(df, "v", "g", trim_milli=100)
        .collect()
    }
    for g, vals in (("a", ga), ("b", gb)):
        n, t, tm, wm = _trim_ref(vals, trim_milli=100)
        assert out[g].trimmed_mean == tm, g
        assert out[g].winsorized_mean == wm, g


def test_trimmed_mean_degenerate(spark):
    from protosc_spark.stats import trimmed_mean

    # trim everything: 1 row each side of a 2-row set at 50%
    df = spark.createDataFrame([(1,), (9,)], "v long")
    r = trimmed_mean(df, "v", trim_milli=500).collect()[0]
    assert r.trimmed_mean is None

    # zero trim: plain mean
    df = spark.createDataFrame([(2,), (4,), (9,)], "v long")
    r = trimmed_mean(df, "v", trim_milli=0).collect()[0]
    assert r.trimmed_mean == 5.0 and r.winsorized_mean == 5.0


# pca_components ----------------------------------------------------


def _emb_df(spark, X, parts=4):
    rows = [(i, [float(v) for v in x]) for i, x in enumerate(X)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(parts)


def _pca_ref(X, k, unit=10**6):
    import numpy as np

    Q = np.floor(np.asarray(X, dtype=np.float64) * float(unit))
    Q = Q.astype(np.int64).astype(object)
    n = Q.shape[0]
    G = Q.T @ Q
    s = Q.sum(axis=0)
    cov = (n * G - np.outer(s, s)).astype(np.float64) / (
        float(n) ** 2 * float(unit) ** 2
    )
    evals = np.linalg.eigvalsh(cov)[::-1][:k]
    tr = float(np.trace(cov))
    return [float(e) for e in evals], tr


def test_pca_digit_exact_vs_numpy(spark):
    import numpy as np

    from protosc_spark.stats import pca_components

    rng = np.random.default_rng(7)
    # independent dims with very different scales
    X = rng.normal(0, 1, size=(300, 6)) * np.array(
        [5.0, 3.0, 1.0, 0.5, 0.2, 0.1]
    )
    out = pca_components(_emb_df(spark, X), k=6)
    evals, tr = _pca_ref(X, 6)
    assert list(out["eigenvalue"]) == evals
    assert list(out["explained_ratio"]) == [
        e / tr for e in evals
    ]
    # scales recovered in order
    assert evals[0] > 20 and evals[0] / evals[5] > 1000


def test_pca_parallelism_independent(spark):
    import numpy as np

    from protosc_spark.stats import pca_components

    rng = np.random.default_rng(11)
    X = rng.normal(0, 1, size=(257, 5))
    a = pca_components(_emb_df(spark, X, parts=1), k=5)
    b = pca_components(_emb_df(spark, X, parts=16), k=5)
    assert list(a["eigenvalue"]) == list(b["eigenvalue"])
    assert list(a["cum_ratio"]) == list(b["cum_ratio"])


def test_pca_low_rank(spark):
    import numpy as np

    from protosc_spark.stats import pca_components

    rng = np.random.default_rng(13)
    basis = rng.normal(0, 1, size=(2, 8))
    coef = rng.normal(0, 1, size=(200, 2))
    X = coef @ basis  # exactly rank 2 (up to quantization)
    out = pca_components(_emb_df(spark, X), k=8)
    assert out["cum_ratio"].iloc[1] > 0.999999
    assert out["eigenvalue"].iloc[2] < 1e-9

"""Deterministic A/B experiment readout.

Completes the analysis loop the other monitors feed (PSI/MAD/CUSUM
say *something changed*; an experiment readout says *did the change
do what we wanted*): users are split into two variants by the same
deterministic md5 ``hash_bucket`` rule the engine uses for splits
and folds (a pure function of id + salt — stable across runs,
partitioning, engines), per-user conversion is a threshold on the
user's count of the target state, and each state gets the classic
two-proportion pooled z statistic

    z = (p_b - p_a) / sqrt(p (1 - p) (1/n_a + 1/n_b)),
    p = (conv_a + conv_b) / (n_a + n_b)

(z is NULL when a variant is empty or the pooled rate is degenerate
0/1 — the statistic is undefined there, not zero).

Scale shape: one (user, state) count — map-side combined; the
user x state grid is a broadcast crossJoin of the distinct-state
list (states are enum-sized) against the distinct-user table, so
users who never emitted a state still count in its denominator; one
conditional-sum groupBy down to |states| rows. Pure JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from .sampling import hash_bucket


def ab_readout(
    df: DataFrame,
    id_col: str = "user_id",
    state_col: str = "event_type",
    threshold: int = 1,
    salt: str = "exp1",
) -> DataFrame:
    """Per-state two-proportion readout over a deterministic 50/50
    hash split of the ids. Conversion for (user, state) is
    count >= ``threshold`` (users with zero events of the state are
    non-converting members of their variant, not missing rows).

    Output: (state, n_a, n_b, conv_a, conv_b, rate_a, rate_b, z).
    """
    users = (
        df.select(id_col)
        .distinct()
        .withColumn(
            "variant", hash_bucket([id_col], salt=salt, n_buckets=2)
        )
    )
    states = (
        df.select(state_col)
        .where(F.col(state_col).isNotNull())
        .distinct()
    )
    counts = df.groupBy(id_col, state_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    grid = (
        users.crossJoin(F.broadcast(states))
        .join(counts, [id_col, state_col], "left")
        .withColumn(
            "conv",
            (F.coalesce(F.col("__c"), F.lit(0)) >= threshold)
            .cast("bigint"),
        )
    )
    va = F.when(F.col("variant") == 0, 1).otherwise(0)
    vb = F.when(F.col("variant") == 1, 1).otherwise(0)
    s = grid.groupBy(state_col).agg(
        F.sum(va).cast("bigint").alias("n_a"),
        F.sum(vb).cast("bigint").alias("n_b"),
        F.sum(va * F.col("conv")).cast("bigint").alias("conv_a"),
        F.sum(vb * F.col("conv")).cast("bigint").alias("conv_b"),
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = (
        F.col("conv_a").cast("double"),
        F.col("conv_b").cast("double"),
    )
    p = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = F.when(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("conv_a") + F.col("conv_b") > 0)
        & (
            F.col("conv_a") + F.col("conv_b")
            < F.col("n_a") + F.col("n_b")
        ),
        (cb / n_b - ca / n_a)
        / F.sqrt(
            p * (F.lit(1) - p) * (F.lit(1.0) / n_a + F.lit(1.0) / n_b)
        ),
    )
    return s.select(
        state_col,
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        (ca / n_a).alias("rate_a"),
        (cb / n_b).alias("rate_b"),
        z.alias("z"),
    )


def welch_ttest(
    df: DataFrame,
    id_col: str = "user_id",
    state_col: str = "event_type",
    value_col: str = "value",
    salt: str = "exp1",
) -> DataFrame:
    """Per-state Welch's unequal-variance t-test on a CONTINUOUS
    metric over the same deterministic md5 50/50 split as
    :func:`ab_readout` (which covers binary conversion) — the other
    half of the standard experiment readout pair:

        t  = (mean_b - mean_a) / sqrt(s2_a/n_a + s2_b/n_b)
        df = (s2_a/n_a + s2_b/n_b)^2
             / ((s2_a/n_a)^2/(n_a-1) + (s2_b/n_b)^2/(n_b-1))

    Determinism contract: the metric is quantized to DECIMAL(18,6)
    (1e-6 units) at the scan, so the per-variant sufficient
    statistics (n, sum, sum of squares — the only aggregations) are
    EXACT decimal sums, order-independent at any parallelism; all
    mean/variance/t arithmetic happens on those exact stats in one
    deterministic scalar expression. Metric magnitudes must fit
    DECIMAL(18,6) (< 1e12 — squares stay within DECIMAL(38,12)).
    t and dof are NULL when either variant has < 2 rows or both
    sample variances are zero.

    Scale shape: one groupBy(state, variant) with map-side combine
    down to 2|states| rows; everything after runs on that table.
    Pure JVM. Output: (state, n_a, n_b, mean_a, mean_b, t, dof)
    ordered by state."""
    dec = "decimal(18,6)"
    v = F.col(value_col).cast(dec)
    variant = hash_bucket([id_col], salt=salt, n_buckets=2)
    per = (
        df.where(
            F.col(state_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .select(
            F.col(state_col).alias("state"),
            variant.alias("__v"),
            v.alias("__x"),
            (v * v).alias("__x2"),
        )
        .groupBy("state", "__v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.sum("__x").alias("__s"),
            F.sum("__x2").alias("__q"),
        )
    )
    side = (
        per.groupBy("state")
        .agg(
            *[
                f(F.when(F.col("__v") == vv, F.col(c))).alias(
                    f"{name}_{tag}"
                )
                for vv, tag in ((0, "a"), (1, "b"))
                for f, c, name in (
                    (F.sum, "__n", "n"),
                    (F.sum, "__s", "s"),
                    (F.sum, "__q", "q"),
                )
            ]
        )
        .na.fill({"n_a": 0, "n_b": 0})
    )

    def _stats(tag):
        n = F.col(f"n_{tag}").cast("double")
        s = F.col(f"s_{tag}").cast("double")
        q = F.col(f"q_{tag}").cast("double")
        mean = s / n
        var = (q - s * s / n) / (n - F.lit(1.0))
        return n, mean, var

    na, ma, va = _stats("a")
    nb, mb, vb = _stats("b")
    se2 = va / na + vb / nb
    t = (mb - ma) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / na) * (va / na) / (na - F.lit(1.0))
        + (vb / nb) * (vb / nb) / (nb - F.lit(1.0))
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    live = ok & (se2 > 0)
    return side.select(
        "state",
        "n_a",
        "n_b",
        F.when(F.col("n_a") > 0, ma).alias("mean_a"),
        F.when(F.col("n_b") > 0, mb).alias("mean_b"),
        F.when(live, t).alias("t"),
        F.when(live, dof).alias("dof"),
    ).orderBy("state")


def cuped_readout(
    df: DataFrame,
    id_col: str = "user_id",
    state_col: str = "event_type",
    metric_state: str = "purchase",
    covariate_state: str = "view",
    salt: str = "exp1",
) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng, Xu, Kohavi, Walker
    2013): per user, the metric y is the count of ``metric_state``
    events and the covariate x the count of ``covariate_state``
    events (users with neither still belong to their variant with
    x = y = 0); the adjusted metric

        y' = y - theta * (x - xbar),   theta = cov(x, y) / var(x)

    (theta and xbar POOLED across both arms — the unbiasedness
    condition: a covariate independent of assignment shifts both
    arms equally, so E[diff] is unchanged while var shrinks by the
    squared correlation rho^2) is compared across the deterministic
    md5 50/50 split (same ``hash_bucket`` rule as ab_readout).

    Exactness: every per-arm and pooled moment (n, Sx, Sy, Sxx,
    Sxy, Syy) is an exact DECIMAL integer from ONE conditional-sum
    aggregate; theta is one float ratio of exact n-scaled centered
    integers (the ols2_fit p=1 algebra), and every downstream number
    (adjusted means, Welch-style z on the adjusted metric, rho^2) is
    a closed float expression of those integers — deterministic at
    any parallelism and digit-replayable in SQL.

    Scale shape: one (user, state)-conditional groupBy down to
    |users| rows, then ONE map-side-combined aggregate to a single
    row. Output: (n_a, n_b, mean_a, mean_b, theta, adj_mean_a,
    adj_mean_b, raw_diff, adj_diff, z_raw, z_adj, rho2). theta = 0
    when the covariate is constant (no adjustment possible); z NULL
    when an arm has < 2 users or zero adjusted variance."""
    dec = "decimal(38,0)"
    users = (
        df.groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col(state_col) == metric_state, 1).otherwise(0)
            )
            .cast(dec)
            .alias("y"),
            F.sum(
                F.when(F.col(state_col) == covariate_state, 1).otherwise(
                    0
                )
            )
            .cast(dec)
            .alias("x"),
        )
        .withColumn(
            "v", hash_bucket([id_col], salt=salt, n_buckets=2)
        )
    )

    def arm(tag, cond):
        one = F.when(cond, 1).otherwise(0).cast(dec)
        x, y = F.col("x"), F.col("y")
        return [
            F.sum(one).alias(f"n{tag}"),
            F.sum(one * x).alias(f"sx{tag}"),
            F.sum(one * y).alias(f"sy{tag}"),
            F.sum(one * x * x).alias(f"sxx{tag}"),
            F.sum(one * x * y).alias(f"sxy{tag}"),
            F.sum(one * y * y).alias(f"syy{tag}"),
        ]

    g = users.agg(
        *arm("a", F.col("v") == 0),
        *arm("b", F.col("v") == 1),
        *arm("", F.lit(True)),
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    theta = F.when(vx > 0, cxy.cast("double") / vx.cast("double")).otherwise(
        F.lit(0.0)
    )
    xbar = F.col("sx").cast("double") / n.cast("double")

    def d(c):
        return F.col(c).cast("double")

    def arm_stats(tag):
        na = d(f"n{tag}")
        mean_y = d(f"sy{tag}") / na
        mean_x = d(f"sx{tag}") / na
        adj = mean_y - theta * (mean_x - xbar)
        syy_c = d(f"syy{tag}") - d(f"sy{tag}") * d(f"sy{tag}") / na
        sxx_c = d(f"sxx{tag}") - d(f"sx{tag}") * d(f"sx{tag}") / na
        sxy_c = d(f"sxy{tag}") - d(f"sx{tag}") * d(f"sy{tag}") / na
        var_y = syy_c / (na - F.lit(1.0))
        var_adj = (
            syy_c
            - F.lit(2.0) * theta * sxy_c
            + theta * theta * sxx_c
        ) / (na - F.lit(1.0))
        return na, mean_y, adj, var_y, var_adj

    na, my_a, adj_a, vy_a, va_a = arm_stats("a")
    nb, my_b, adj_b, vy_b, va_b = arm_stats("b")
    raw_diff = my_b - my_a
    adj_diff = adj_b - adj_a
    se_raw = F.sqrt(vy_a / na + vy_b / nb)
    se_adj = F.sqrt(va_a / na + va_b / nb)
    okn = (F.col("na") >= 2) & (F.col("nb") >= 2)
    rho2 = F.when(
        (vx > 0) & (vy > 0),
        cxy.cast("double")
        * cxy.cast("double")
        / (vx.cast("double") * vy.cast("double")),
    )
    return g.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        my_a.alias("mean_a"),
        my_b.alias("mean_b"),
        theta.alias("theta"),
        adj_a.alias("adj_mean_a"),
        adj_b.alias("adj_mean_b"),
        raw_diff.alias("raw_diff"),
        adj_diff.alias("adj_diff"),
        F.when(okn & (se_raw > 0), raw_diff / se_raw).alias("z_raw"),
        F.when(okn & (se_adj > 0), adj_diff / se_adj).alias("z_adj"),
        rho2.alias("rho2"),
    )


def ratio_delta_readout(
    df: DataFrame,
    id_col: str = "user_id",
    state_col: str = "event_type",
    num_state: str = "purchase",
    den_state: str = "view",
    salt: str = "exp1",
) -> DataFrame:
    """A/B readout for a RATIO-OF-SUMS metric (purchases per view)
    with the delta-method variance (Deng, Knoblich, Lu 2018): the
    per-arm metric is R = sum(y_u) / sum(x_u), whose unit of analysis
    (events) differs from the unit of randomization (users), so the
    naive binomial/proportion variance is wrong; the delta method
    linearizes around the means:

        Var(R) ~= (s_yy - 2 R s_xy + R^2 s_xx) / (n * xbar^2)

    with s_** the per-USER sample (co)variances and xbar the mean
    denominator per user. z = (R_b - R_a) / sqrt(Var_a + Var_b).

    Exactness: per-user x/y counts and all five moments per arm are
    exact DECIMAL integers from ONE conditional aggregate (the
    cuped_readout shape); R, the covariances and z are closed float
    expressions of them — parallelism-independent, SQL-replayable.
    Output: (n_a, n_b, ratio_a, ratio_b, diff, z) — ratio NULL for
    an arm with zero denominator events, z NULL when either ratio is
    NULL, either arm has < 2 users, or the combined variance is 0."""
    dec = "decimal(38,0)"
    users = (
        df.groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col(state_col) == num_state, 1).otherwise(0)
            )
            .cast(dec)
            .alias("y"),
            F.sum(
                F.when(F.col(state_col) == den_state, 1).otherwise(0)
            )
            .cast(dec)
            .alias("x"),
        )
        .withColumn(
            "v", hash_bucket([id_col], salt=salt, n_buckets=2)
        )
    )

    def arm(tag, cond):
        one = F.when(cond, 1).otherwise(0).cast(dec)
        x, y = F.col("x"), F.col("y")
        return [
            F.sum(one).alias(f"n{tag}"),
            F.sum(one * x).alias(f"sx{tag}"),
            F.sum(one * y).alias(f"sy{tag}"),
            F.sum(one * x * x).alias(f"sxx{tag}"),
            F.sum(one * x * y).alias(f"sxy{tag}"),
            F.sum(one * y * y).alias(f"syy{tag}"),
        ]

    g = users.agg(
        *arm("a", F.col("v") == 0), *arm("b", F.col("v") == 1)
    )

    def d(c):
        return F.col(c).cast("double")

    def arm_stats(tag):
        n = d(f"n{tag}")
        sx, sy = d(f"sx{tag}"), d(f"sy{tag}")
        ratio = F.when(
            F.col(f"sx{tag}") > 0, sy / sx
        )
        xbar = sx / n
        cm = n - F.lit(1.0)
        s_xx = (d(f"sxx{tag}") - sx * sx / n) / cm
        s_yy = (d(f"syy{tag}") - sy * sy / n) / cm
        s_xy = (d(f"sxy{tag}") - sx * sy / n) / cm
        var = (
            s_yy
            - F.lit(2.0) * ratio * s_xy
            + ratio * ratio * s_xx
        ) / (n * xbar * xbar)
        return n, ratio, var

    na, ra, va = arm_stats("a")
    nb, rb, vb = arm_stats("b")
    diff = rb - ra
    se = F.sqrt(va + vb)
    ok = (
        (F.col("na") >= 2)
        & (F.col("nb") >= 2)
        & ra.isNotNull()
        & rb.isNotNull()
    )
    return g.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        ra.alias("ratio_a"),
        rb.alias("ratio_b"),
        diff.alias("diff"),
        F.when(ok & (se > 0), diff / se).alias("z"),
    )


def cmh_readout(
    df: DataFrame,
    id_col: str = "user_id",
    state_col: str = "event_type",
    convert_state: str = "purchase",
    strata_buckets: int = 5,
    salt: str = "exp1",
    strat_salt: str = "strat",
    unit: int = 10**9,
) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified A/B readout — the pooled
    2x2xK conversion test that controls for a confounding stratum
    (the experiment-side answer to skew.simpson_audit's alarm: when
    strata disagree with the pool, THIS is the statistic to trust):

        chi2 = (|sum_k a_k - sum_k E_k| - 0.5)^2 / sum_k V_k
        E_k = n1_k m1_k / T_k
        V_k = n1_k n0_k m1_k (T_k - m1_k) / (T_k^2 (T_k - 1))
        OR_MH = sum_k (a_k d_k / T_k) / sum_k (b_k c_k / T_k)

    with a_k = treated converters in stratum k, the classic
    continuity-corrected form and the Mantel-Haenszel common odds
    ratio. Users split 50/50 by the engine's md5 ``hash_bucket``
    (salt ``salt``); the stratum is a second independent md5 bucket
    (salt ``strat_salt``) so both sides of a SQL oracle reproduce
    every cell. Per-stratum cells are exact integers; each E/V/OR
    term is one float of them, quantized to integer 1/``unit``
    units before the cross-strata sums (house rule); chi2 NULL when
    the variance sum is zero, OR NULL when its denominator is.

    Scale shape: one (user, state) rollup to |users| rows, one
    conditional groupBy to the K x 4 cell table, arithmetic there.
    Output: one row (n, n_conv, n_strata, chi2, or_mh)."""
    dec = "decimal(38,0)"
    users = (
        df.groupBy(id_col)
        .agg(
            F.max(
                F.when(F.col(state_col) == convert_state, 1).otherwise(
                    0
                )
            ).alias("conv")
        )
        .withColumn(
            "v", hash_bucket([id_col], salt=salt, n_buckets=2)
        )
        .withColumn(
            "s",
            hash_bucket(
                [id_col], salt=strat_salt, n_buckets=strata_buckets
            ),
        )
    )
    cells = users.groupBy("s").agg(
        F.sum(F.when(F.col("v") == 1, F.col("conv")).otherwise(0))
        .cast(dec)
        .alias("a"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0))
        .cast(dec)
        .alias("n1"),
        F.sum(F.when(F.col("v") == 0, F.col("conv")).otherwise(0))
        .cast(dec)
        .alias("c"),
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0))
        .cast(dec)
        .alias("n0"),
    )

    def d(col):
        return col.cast("double")

    a, n1, c, n0 = (F.col(x) for x in ("a", "n1", "c", "n0"))
    t = n1 + n0
    m1 = a + c
    b, dd = n1 - a, n0 - c
    e = d(n1) * d(m1) / d(t)
    var = (
        d(n1) * d(n0) * d(m1) * d(t - m1)
        / (d(t) * d(t) * (d(t) - F.lit(1.0)))
    )
    u = F.lit(float(unit))
    q = lambda x: F.floor(x * u).cast(dec)  # noqa: E731
    agg = cells.where(t > 1).agg(
        F.sum(a).alias("__a"),
        F.sum(q(e)).alias("__qe"),
        F.sum(q(var)).alias("__qv"),
        F.sum(q(d(a) * d(dd) / d(t))).alias("__qor_n"),
        F.sum(q(d(b) * d(c) / d(t))).alias("__qor_d"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(t).alias("__n"),
        F.sum(m1).alias("__m"),
    )
    diff = F.abs(
        F.col("__a").cast("double")
        - F.col("__qe").cast("double") / u
    )
    vsum = F.col("__qv").cast("double") / u
    chi2 = (
        (diff - F.lit(0.5)) * (diff - F.lit(0.5)) / vsum
    )
    orn = F.col("__qor_n").cast("double") / u
    ord_ = F.col("__qor_d").cast("double") / u
    return agg.select(
        F.col("__n").cast("bigint").alias("n"),
        F.col("__m").cast("bigint").alias("n_conv"),
        "n_strata",
        F.when(vsum > 0, chi2).alias("chi2"),
        F.when(ord_ > 0, orn / ord_).alias("or_mh"),
    )


def rate_ratio_test(
    df: DataFrame,
    id_col: str = "user_id",
    state_col: str = "event_type",
    convert_state: str = "purchase",
    ts_col: str = "ts",
    salt: str = "exp1",
) -> DataFrame:
    """Exposure-adjusted Poisson rate comparison across the
    deterministic md5 50/50 split — the COUNT-metric companion to
    :func:`ab_readout` (binary "did convert") and
    :func:`ratio_delta_readout` (ratio of sums with delta variance):
    when the metric is "events per user-DAY" and arms can differ in
    observed time (late joiners, early quitters), comparing raw
    per-user means is biased; the classic conditional test is exact
    integer algebra:

        k ~ Binomial(K, tau),  tau = T1 / (T1 + T0)
        z = (k1 - K * tau) / sqrt(K * tau * (1 - tau))

    conditioning on the total event count K = k1 + k0, with T the
    summed per-user exposures (days from first to last event,
    inclusive — the same lifetime the survival gates use). Every
    sufficient statistic (k1, k0, T1, T0) is an exact integer from
    one per-user rollup + one conditional sum; the z and the rate
    ratio (k1/T1)/(k0/T0) are single float expressions of them,
    written identically in the SQL oracle.

    Output: one row (n_1, n_0, k1, k0, t1, t0, rate_ratio, z) —
    rate_ratio NULL when either exposure or k0 is zero, z NULL when
    K = 0 or either arm has zero exposure."""
    dec = "decimal(38,0)"
    per = (
        df.groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col(state_col) == convert_state, 1)
                .otherwise(0)
            ).cast(dec).alias("__k"),
            (
                F.datediff(F.max(F.to_date(ts_col)),
                           F.min(F.to_date(ts_col)))
                + F.lit(1)
            ).cast(dec).alias("__t"),
        )
        .withColumn(
            "__v", hash_bucket([id_col], salt=salt, n_buckets=2)
        )
    )
    a = per.agg(
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_1"),
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_0"),
        F.sum(F.when(F.col("__v") == 1, F.col("__k")).otherwise(0))
        .alias("__k1"),
        F.sum(F.when(F.col("__v") == 0, F.col("__k")).otherwise(0))
        .alias("__k0"),
        F.sum(F.when(F.col("__v") == 1, F.col("__t")).otherwise(0))
        .alias("__t1"),
        F.sum(F.when(F.col("__v") == 0, F.col("__t")).otherwise(0))
        .alias("__t0"),
    )
    k1 = F.col("__k1").cast("double")
    k0 = F.col("__k0").cast("double")
    t1 = F.col("__t1").cast("double")
    t0 = F.col("__t0").cast("double")
    kk = k1 + k0
    tau = t1 / (t1 + t0)
    z = (k1 - kk * tau) / F.sqrt(kk * tau * (F.lit(1.0) - tau))
    ok = (
        (F.col("__k1") + F.col("__k0") > 0)
        & (F.col("__t1") > 0)
        & (F.col("__t0") > 0)
    )
    return a.select(
        "n_1",
        "n_0",
        F.col("__k1").cast("bigint").alias("k1"),
        F.col("__k0").cast("bigint").alias("k0"),
        F.col("__t1").cast("bigint").alias("t1"),
        F.col("__t0").cast("bigint").alias("t0"),
        F.when(
            (F.col("__t1") > 0) & (F.col("__t0") > 0)
            & (F.col("__k0") > 0),
            (k1 / t1) / (k0 / t0),
        ).alias("rate_ratio"),
        F.when(ok, z).alias("z"),
    )


def effect_size(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Standardized mean difference between group 1 (truthy
    ``group_col``) and group 0 — Cohen's d with the Hedges small-
    sample correction, the EFFECT-SIZE companion to welch_ttest
    (p-values say "real"; d says "big enough to care", and at
    corpus n everything is "real"):

        d = (mean_1 - mean_0) / s_pooled,
        s_pooled^2 = ((n1-1) s1^2 + (n0-1) s0^2) / (n1 + n0 - 2),
        g = d * J,  J = 1 - 3 / (4 (n1 + n0) - 9)

    (the standard closed-form J approximation — no gamma function
    needed). Exactness: per-group sums and sum-of-squares are exact
    DECIMAL(38,0) from ONE aggregation; every statistic is a closed
    float tree of those integers, identical in the SQL oracle.

    Rows with NULL value or group are dropped. Output: one row
    (n_1, n_0, mean_1, mean_0, d, g, magnitude) — magnitude is the
    conventional label (negligible < 0.2 <= small < 0.5 <= medium
    < 0.8 <= large) on |d|; NULL d/g when either group has < 2 rows
    or the pooled variance is 0."""
    dec = "decimal(38,0)"
    y = F.col(group_col).cast("int")
    v = F.col(value_col).cast(dec)
    rows = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )
    g = rows.agg(
        F.sum(y.cast(dec)).alias("__n1"),
        F.sum((1 - y).cast(dec)).alias("__n0"),
        F.sum(F.when(y == 1, v).otherwise(F.lit(0).cast(dec))
              ).alias("__s1"),
        F.sum(F.when(y == 0, v).otherwise(F.lit(0).cast(dec))
              ).alias("__s0"),
        F.sum(F.when(y == 1, v * v).otherwise(F.lit(0).cast(dec))
              ).alias("__q1"),
        F.sum(F.when(y == 0, v * v).otherwise(F.lit(0).cast(dec))
              ).alias("__q0"),
    )
    n1, n0 = F.col("__n1"), F.col("__n0")
    s1, s0 = F.col("__s1"), F.col("__s0")
    q1, q0 = F.col("__q1"), F.col("__q0")
    n1d, n0d = n1.cast("double"), n0.cast("double")
    m1 = s1.cast("double") / n1d
    m0 = s0.cast("double") / n0d
    # (n-1) s^2 = (n q - s^2) / n, exact numerators
    ss1 = (n1 * q1 - s1 * s1).cast("double") / n1d
    ss0 = (n0 * q0 - s0 * s0).cast("double") / n0d
    sp = F.sqrt(
        (ss1 + ss0) / (n1d + n0d - F.lit(2.0))
    )
    d = (m1 - m0) / F.when(sp != 0, sp)
    jf = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * (n1d + n0d) - F.lit(9.0)
    )
    gg = d * jf
    ok = (
        (n1 >= F.lit(2).cast(dec))
        & (n0 >= F.lit(2).cast(dec))
    )
    ad = F.abs(d)
    mag = F.when(ad < 0.2, F.lit("negligible")).when(
        ad < 0.5, F.lit("small")
    ).when(ad < 0.8, F.lit("medium")).otherwise(F.lit("large"))
    return g.select(
        n1.cast("bigint").alias("n_1"),
        n0.cast("bigint").alias("n_0"),
        F.when(n1 > 0, m1).alias("mean_1"),
        F.when(n0 > 0, m0).alias("mean_0"),
        F.when(ok, d).alias("d"),
        F.when(ok, gg).alias("g"),
        F.when(ok & d.isNotNull(), mag).alias("magnitude"),
    )


def risk_table(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """Epidemiology-style 2x2 effect table for binary exposure ->
    binary outcome: risk ratio, odds ratio and risk difference,
    each with its standard 95% CI — the EFFECT-SIZE readout beside
    the chi-square / Fisher significance gates (a p-value without
    an OR and its CI is half a result):

        RR = (a/n1) / (c/n0),  ln-CI +- 1.96 sqrt(1/a - 1/n1
                                                  + 1/c - 1/n0)
        OR = ad / bc,          Woolf ln-CI +- 1.96 sqrt(1/a + 1/b
                                                        + 1/c + 1/d)
        RD = a/n1 - c/n0,      Wald CI +- 1.96 sqrt(p1(1-p1)/n1
                                                    + p0(1-p0)/n0)

    with a = exposed&outcome, b = exposed&not, c = unexposed&
    outcome, d = neither. Exactness: the four cells come from ONE
    aggregation as exact integers; every estimate and bound is a
    closed float tree (ln/sqrt only), replayable by any SQL engine.
    Zero cells: that statistic and its CI are NULL (no continuity
    fudge — the exact fisher_exact kernel is the small-cell tool).

    Rows with NULL exposure/outcome are dropped. Output: one row
    (a, b, c, d, rr, rr_lo, rr_hi, orr, or_lo, or_hi, rd, rd_lo,
    rd_hi)."""
    dec = "decimal(38,0)"
    e = F.col(exposure_col).cast("int")
    y = F.col(outcome_col).cast("int")
    both = e.isNotNull() & y.isNotNull()

    def cell(ev, yv, name):
        return F.sum(
            F.when(both & (e == ev) & (y == yv), 1).otherwise(0)
        ).cast(dec).alias(name)

    g = df.agg(
        cell(1, 1, "__a"), cell(1, 0, "__b"),
        cell(0, 1, "__c"), cell(0, 0, "__d"),
    )
    a, b = F.col("__a"), F.col("__b")
    c, d = F.col("__c"), F.col("__d")
    ad_, bd, cd_, dd = (
        a.cast("double"), b.cast("double"),
        c.cast("double"), d.cast("double"),
    )
    n1, n0 = ad_ + bd, cd_ + dd
    z = F.lit(1.959963984540054)
    p1, p0 = ad_ / F.when(n1 != 0, n1), cd_ / F.when(n0 != 0, n0)
    rr = p1 / F.when(p0 != 0, p0)
    se_rr = F.sqrt(
        F.lit(1.0) / ad_ - F.lit(1.0) / n1
        + F.lit(1.0) / cd_ - F.lit(1.0) / n0
    )
    orr = (ad_ * dd) / F.when(bd * cd_ != 0, bd * cd_)
    se_or = F.sqrt(
        F.lit(1.0) / ad_ + F.lit(1.0) / bd
        + F.lit(1.0) / cd_ + F.lit(1.0) / dd
    )
    rd = p1 - p0
    se_rd = F.sqrt(
        p1 * (F.lit(1.0) - p1) / n1
        + p0 * (F.lit(1.0) - p0) / n0
    )
    ok_rr = (a > 0) & (c > 0) & (n1 > 0) & (n0 > 0)
    ok_or = (a > 0) & (b > 0) & (c > 0) & (d > 0)
    ok_rd = (n1 > 0) & (n0 > 0)
    return g.select(
        a.cast("bigint").alias("a"),
        b.cast("bigint").alias("b"),
        c.cast("bigint").alias("c"),
        d.cast("bigint").alias("d"),
        F.when(ok_rr, rr).alias("rr"),
        F.when(ok_rr, F.exp(F.log(rr) - z * se_rr)).alias(
            "rr_lo"
        ),
        F.when(ok_rr, F.exp(F.log(rr) + z * se_rr)).alias(
            "rr_hi"
        ),
        F.when(ok_or, orr).alias("orr"),
        F.when(ok_or, F.exp(F.log(orr) - z * se_or)).alias(
            "or_lo"
        ),
        F.when(ok_or, F.exp(F.log(orr) + z * se_or)).alias(
            "or_hi"
        ),
        F.when(ok_rd, rd).alias("rd"),
        F.when(ok_rd, rd - z * se_rd).alias("rd_lo"),
        F.when(ok_rd, rd + z * se_rd).alias("rd_hi"),
    )


def power_mde(
    df: DataFrame,
    state_col: str = "event_type",
    id_col: str = "user_id",
    threshold: int = 14,
    mde_abs: float = 0.02,
) -> DataFrame:
    """Experiment POWER planner off observed baselines — the
    question every A/B readout gate begs: "could this corpus even
    DETECT the effect you care about?" For each state, the baseline
    conversion rate p (the ab_readout rule: users with >= threshold
    events of the state over ALL users) feeds the standard
    two-proportion sample-size formula at alpha = 5% two-sided,
    power = 80%:

        n_req = (z_a sqrt(2 pbar qbar) + z_b sqrt(p1 q1 + p2 q2))^2
                / delta^2          (per arm, delta = ``mde_abs``)

    and the dual readout: the minimum detectable effect at the
    CURRENT population split 50/50,

        mde_now = (z_a + z_b) sqrt(2 p q / (n / 2))

    (the pooled approximation — standard for planning). Exactness:
    user counts and conversion counts are exact integers from one
    grid aggregation (the ab_readout shape); both formulas are
    closed float trees with the z literals spelled out
    (1.959963984540054, 0.8416212335729143), identical in the SQL
    oracle.

    Output: one row per state (state, n_users, conversions,
    baseline_rate, n_required_per_arm, powered_now, mde_now);
    NULL statistics for degenerate baselines (p = 0 or 1)."""
    users = df.select(F.col(id_col)).distinct()
    states = df.select(F.col(state_col)).distinct()
    counts = df.groupBy(id_col, state_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    grid = (
        users.crossJoin(F.broadcast(states))
        .join(counts, [id_col, state_col], "left")
        .withColumn(
            "conv",
            (F.coalesce(F.col("__c"), F.lit(0)) >= threshold)
            .cast("bigint"),
        )
    )
    s = grid.groupBy(state_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("conversions"),
    )
    za = F.lit(1.959963984540054)
    zb = F.lit(0.8416212335729143)
    nd = F.col("n_users").cast("double")
    p = F.col("conversions").cast("double") / nd
    q = F.lit(1.0) - p
    d = F.lit(float(mde_abs))
    p2 = p + d
    q2 = F.lit(1.0) - p2
    pbar = (p + p2) / F.lit(2.0)
    qbar = F.lit(1.0) - pbar
    root = za * F.sqrt(F.lit(2.0) * pbar * qbar) + zb * F.sqrt(
        p * q + p2 * q2
    )
    n_req = root * root / (d * d)
    mde_now = (za + zb) * F.sqrt(
        F.lit(2.0) * p * q / (nd / F.lit(2.0))
    )
    ok = (p > 0) & (p2 < 1)
    return s.select(
        F.col(state_col).alias("state"),
        "n_users",
        "conversions",
        p.alias("baseline_rate"),
        F.when(ok, F.ceil(n_req).cast("bigint")).alias(
            "n_required_per_arm"
        ),
        F.when(
            ok, nd / F.lit(2.0) >= n_req
        ).alias("powered_now"),
        F.when(ok, mde_now).alias("mde_now"),
    )


def permutation_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    id_col: str = "doc_id",
    n_perm: int = 200,
    salt: str = "perm1",
) -> DataFrame:
    """Two-sample permutation test of the mean difference — the
    distribution-free companion to :func:`welch_ttest` (no normality,
    no variance model; the null is "labels are exchangeable", exactly
    what a deterministic relabeling can simulate).

    Permutations are DETERMINISTIC: relabeling b assigns each row to
    pseudo-group A' by the parity of the engine's md5 bucket of
    (salt, b, id) — the hash_bucket rule, so every permutation is a
    pure function of (id, salt, b), identical across runs, engines
    and partitionings, and the DuckDB oracle replays all of them. The
    reported p is the add-one estimate (1 + #{b : |diff_b| >=
    |observed|}) / (n_perm + 1); permutations where either
    pseudo-group lands empty are counted as extreme (conservative).

    ``value_col`` must be integer-valued (an integral or scale-0
    decimal type): float, double and decimal columns with a
    fractional scale raise ``ValueError`` rather than being
    truncated; scale such a metric to integer units first.

    Exactness: the values sum exactly as BIGINT; each mean is one
    float division and the comparison runs on identically-derived
    doubles in both engines.

    Scale shape: the B-fold explode happens MAP-SIDE and partial
    aggregation collapses it to n_perm rows per task before the
    shuffle — the reduction is n_perm x n_partitions rows, never
    B x corpus. Output: one row (n_a, n_b, obs_diff, n_perm,
    n_extreme, p_value).
    """
    dt = df.select(value_col).schema[0].dataType
    if isinstance(dt, (T.FloatType, T.DoubleType)) or (
        isinstance(dt, T.DecimalType) and dt.scale > 0
    ):
        raise ValueError(
            f"permutation_test: {value_col!r} is {dt.simpleString()}; "
            "it needs integer values (scale them to integer units)"
        )
    base = df.where(
        F.col(group_col).isin(group_a, group_b)
        & F.col(value_col).isNotNull()
    ).select(
        F.col(id_col).cast("string").alias("id"),
        F.col(value_col).cast("long").alias("x"),
        (F.col(group_col) == group_a).alias("in_a"),
    )
    obs = base.agg(
        F.sum(F.when(F.col("in_a"), F.col("x"))).alias("sa"),
        F.count(F.when(F.col("in_a"), F.lit(1))).alias("na"),
        F.sum(F.when(~F.col("in_a"), F.col("x"))).alias("sb"),
        F.count(F.when(~F.col("in_a"), F.lit(1))).alias("nb"),
    ).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        (
            F.col("sa").cast("double") / F.col("na").cast("double")
            - F.col("sb").cast("double") / F.col("nb").cast("double")
        ).alias("obs_diff"),
    )
    perm = (
        base.select(
            "id",
            "x",
            F.explode(
                F.sequence(F.lit(1), F.lit(int(n_perm)))
            ).alias("b"),
        )
        .withColumn(
            "flip",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "\x1f",
                            F.lit(salt),
                            F.col("b").cast("string"),
                            F.col("id"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
            == 0,
        )
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("flip"), F.col("x"))).alias("sa"),
            F.count(F.when(F.col("flip"), F.lit(1))).alias("na"),
            F.sum(F.when(~F.col("flip"), F.col("x"))).alias("sb"),
            F.count(F.when(~F.col("flip"), F.lit(1))).alias("nb"),
        )
        .select(
            F.when(
                (F.col("na") > 0) & (F.col("nb") > 0),
                F.col("sa").cast("double") / F.col("na").cast("double")
                - F.col("sb").cast("double")
                / F.col("nb").cast("double"),
            ).alias("d")
        )
    )
    tail = perm.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            (
                F.col("d").isNull()
                | (F.abs(F.col("d")) >= F.abs(F.col("obs_diff")))
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_extreme")
    )
    return (
        obs.crossJoin(F.broadcast(tail))
        .select(
            "n_a",
            "n_b",
            F.round("obs_diff", 6).alias("obs_diff"),
            F.lit(int(n_perm)).cast("int").alias("n_perm"),
            "n_extreme",
            F.round(
                (F.col("n_extreme") + 1).cast("double")
                / F.lit(float(n_perm + 1)),
                6,
            ).alias("p_value"),
        )
    )


def sprt_monitor(
    df: DataFrame,
    p0: float,
    p1: float,
    state_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    conversion_threshold: int = 14,
    alpha: float = 0.05,
    beta: float = 0.2,
    unit: int = 10**9,
) -> DataFrame:
    """Wald's SPRT, the sequential monitor the fixed-horizon readouts
    (ab_readout / welch) can't be: per state, the running
    log-likelihood ratio of H1: conversion = p1 against H0: = p0 over
    users in ENROLLMENT order (day of a user's first event), stopping
    the first day it crosses ln((1-beta)/alpha) upward (accept H1) or
    ln(beta/(1-alpha)) downward (accept H0) — type-I/II error
    bounded at (alpha, beta) by Wald's inequality no matter when you
    peek, the property fixed-horizon tests lose under repeated looks.

    Everything is exact integer arithmetic on the 1/``unit``-nat
    grid: the two per-user increments ln(p1/p0) and
    ln((1-p1)/(1-p0)) and both bounds quantize ONCE (floor), daily
    increments are integer counts times those constants, the
    trajectory is a cumulative integer sum over the CALENDAR-sized
    day table (day granularity on purpose: within-day user order is
    not exchange-stable, so the verdict is defined on day
    boundaries), and crossing comparisons are integer compares — the
    oracle replays the trajectory digit for digit.

    Scale: one (user, state) count + one (enroll-day) aggregate per
    state; the only window runs over distinct days. Output: (state,
    n_days, n_users, n_conversions, llr_final, decision,
    decision_day) — decision 'continue' with NULL day when neither
    bound is crossed.
    """
    import math

    if not (0.0 < p0 < 1.0 and 0.0 < p1 < 1.0 and p0 != p1):
        raise ValueError("need 0 < p0, p1 < 1 and p0 != p1")
    la = math.floor(math.log(p1 / p0) * unit)
    lb = math.floor(math.log((1.0 - p1) / (1.0 - p0)) * unit)
    up = math.floor(math.log((1.0 - beta) / alpha) * unit)
    lo = math.floor(math.log(beta / (1.0 - alpha)) * unit)

    per_user = df.groupBy(
        F.col(state_col).alias("state"), F.col(user_col).alias("u")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(
            F.floor(
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                / F.lit(86_400_000_000)
            )
        ).alias("day"),
    )
    # NOTE: enrollment day is the user's first event of THIS state —
    # the per-state stream the monitor watches.
    daily = per_user.groupBy("state", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            (F.col("n_events") >= F.lit(int(conversion_threshold)))
            .cast("int")
        )
        .cast("bigint")
        .alias("s"),
    )
    w = W.partitionBy("state").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    traj = daily.withColumn(
        "llr",
        F.sum(
            F.col("s") * F.lit(la) + (F.col("n") - F.col("s")) * F.lit(lb)
        ).over(w),
    ).withColumn(
        "crossed",
        F.when(F.col("llr") >= F.lit(up), F.lit("accept_h1")).when(
            F.col("llr") <= F.lit(lo), F.lit("accept_h0")
        ),
    )
    first_cross = (
        traj.where(F.col("crossed").isNotNull())
        .groupBy("state")
        .agg(
            F.min(F.struct("day", "crossed")).alias("__c")
        )
        .select(
            "state",
            F.col("__c.day").alias("decision_day"),
            F.col("__c.crossed").alias("decision"),
        )
    )
    totals = traj.groupBy("state").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("n_users"),
        F.sum("s").cast("bigint").alias("n_conversions"),
        F.max(F.struct("day", "llr")).alias("__last"),
    )
    return (
        totals.join(first_cross, "state", "left")
        .select(
            "state",
            "n_days",
            "n_users",
            "n_conversions",
            F.round(
                F.col("__last.llr").cast("double") / F.lit(float(unit)),
                6,
            ).alias("llr_final"),
            F.coalesce("decision", F.lit("continue")).alias("decision"),
            F.col("decision_day").cast("bigint").alias("decision_day"),
        )
        .orderBy("state")
    )

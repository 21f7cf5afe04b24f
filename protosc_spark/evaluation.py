"""Corpus-scale model-evaluation metrics.

protosc scores models with fold accuracy (model/utils.py
compute_accuracy — covered by models/search.py); at corpus scale the
standard readouts are threshold-free ranking quality, operating
points, calibration, agreement and two-sample drift. Every statistic
here is EXACT and engine-reproducible: sufficient statistics are
integer counts accumulated in DECIMAL(38,0), and floating point
enters only in the final division (or in per-term values quantized
to integer units before a cross-row sum).

The two-sample drift and ranking family shares one kernel, the
value histogram and its CDF:

* :func:`_value_hist` — one map-side-combined ``groupBy(value)``
  giving, per distinct non-NULL value ``v``, the group-1 count ``a``
  and the group-0 count ``b``. The result is distinct-value-sized,
  never corpus-sized.
* :func:`_value_cdf` — one window spec ordered by ``v`` over that
  histogram adds the exclusive below-counts ``ca``/``cb`` (rows with
  a value < v) and the totals ``n1``/``n0``. An inclusive count is
  ``ca + a``; a descending (>= v) count is ``n1 - ca``.
  :func:`_cdf_gap` is the ECDF gap at v, cross-multiplied by
  ``n1 * n0`` to an exact integer (KS, Kuiper, CvM, W1).

Each statistic of the family is one aggregate over those columns:
:func:`auc_exact`, :func:`ks_two_sample`,
:func:`wasserstein_by_group`, :func:`mannwhitney_u`,
:func:`cvm_two_sample`, :func:`kuiper_two_sample`,
:func:`youden_threshold`, :func:`average_precision`,
:func:`energy_distance` and :func:`ad_two_sample` sit on
:func:`_value_cdf`; :func:`distribution_distances` needs no order
and sits on :func:`_value_hist` alone. Argmax readouts (``ks_at``,
the Youden threshold) are the smallest value attaining the maximum,
taken in that same aggregate.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

_DEC = "decimal(38,0)"


def _value_hist(df: DataFrame, value: Column, group_col: str
                ) -> DataFrame:
    """Two-sample value histogram: one row (v, a, b) per distinct
    ``value``, with ``a`` the group-1 rows (``group_col`` truthy) and
    ``b`` the group-0 rows, both DECIMAL(38,0). Rows whose value or
    group is NULL are dropped. ``value`` is a Column, so a caller
    that needs integer arithmetic on ``v`` passes it cast."""
    y = F.col(group_col).cast("int")
    return (
        df.where(value.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(value.alias("v"))
        .agg(
            F.sum(y).cast(_DEC).alias("a"),
            F.sum(1 - y).cast(_DEC).alias("b"),
        )
    )


def _value_cdf(hist: DataFrame, **below: Column) -> DataFrame:
    """The CDF of a :func:`_value_hist`: adds the exclusive
    below-counts ``ca``/``cb`` (sums of ``a``/``b`` over values < v)
    and the totals ``n1``/``n0``, plus one exclusive prefix sum per
    keyword expression in ``below``. Everything comes from one
    ``orderBy(v)`` window spec, so there is one sort of the
    distinct-value table and no separate totals aggregate."""
    order = W.orderBy("v")
    lt = order.rowsBetween(W.unboundedPreceding, -1)
    every = order.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    zero = F.lit(0).cast(_DEC)
    sums = {"ca": F.col("a"), "cb": F.col("b"), **below}
    return hist.select(
        "*",
        *(
            F.coalesce(F.sum(e).over(lt), zero).alias(k)
            for k, e in sums.items()
        ),
        F.sum("a").over(every).alias("n1"),
        F.sum("b").over(every).alias("n0"),
    )


def _cdf_gap() -> Column:
    """n1 * n0 * (F_1(v) - F_0(v)) over a :func:`_value_cdf`: the
    signed gap between the two inclusive ECDFs at v, cross-multiplied
    to an exact integer."""
    return (
        (F.col("ca") + F.col("a")) * F.col("n0")
        - (F.col("cb") + F.col("b")) * F.col("n1")
    )


def auc_exact(df: DataFrame, score_col: str, label_col: str
              ) -> DataFrame:
    """Exact ROC AUC (probability a random positive outranks a
    random negative, ties at half credit) via the doubled integer
    Mann-Whitney sum

        U2 = sum_s pos_s * (2 * neg_below_s + neg_s),
        auc = U2 / (2 * P * N)

    accumulated as DECIMAL(38,0) — order-independent and exact; the
    division is the only floating point. Rows with NULL score or
    label are dropped; AUC is NULL when either class is empty.
    Output: one row (n_pos, n_neg, auc)."""
    agg = _value_cdf(
        _value_hist(df, F.col(score_col), label_col)
    ).agg(
        F.max("n1").alias("__p"),
        F.max("n0").alias("__n"),
        F.sum(
            F.col("a")
            * (F.lit(2).cast(_DEC) * F.col("cb") + F.col("b"))
        ).alias("__u2"),
    )
    p, n, u = (
        F.col(c).cast("double") for c in ("__p", "__n", "__u2")
    )
    return agg.select(
        F.col("__p").cast("bigint").alias("n_pos"),
        F.col("__n").cast("bigint").alias("n_neg"),
        F.when(
            (F.col("__p") > 0) & (F.col("__n") > 0),
            u / (F.lit(2.0) * p * n),
        ).alias("auc"),
    )


def calibration_bins(df: DataFrame, score_col: str, label_col: str,
                     n_bins: int = 10) -> DataFrame:
    """Reliability diagram + ECE: scores in [0, 1] land in
    ``n_bins`` fixed-width bins (score 1.0 folds into the last bin),
    each reporting its size, mean predicted confidence and empirical
    positive rate; every row repeats the whole-column

        ece = sum_b (n_b / n) * |rate_b - conf_b|.

    Empty bins are omitted (their ECE weight is zero). Output:
    (bin, n, conf, rate, ece) ordered by bin.

    Scale shape: one map-side-combined n_bins-bucket aggregation;
    everything after runs on the <= n_bins-row table. Pure JVM."""
    s = F.col(score_col).cast("double")
    b = F.least(
        F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    per = (
        df.where(s.isNotNull() & F.col(label_col).isNotNull())
        .select(
            b.alias("bin"),
            s.alias("__s"),
            F.col(label_col).cast("int").alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum("__s") / F.count(F.lit(1))).alias("conf"),
            (
                F.sum("__y").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("rate"),
        )
    )
    tot = per.agg(F.sum("n").alias("__t"))
    ece = (
        per.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("n").cast("double")
                / F.col("__t").cast("double")
                * F.abs(F.col("rate") - F.col("conf"))
            ).alias("__ece")
        )
    )
    return (
        per.crossJoin(F.broadcast(ece))
        .select("bin", "n", "conf", "rate",
                F.col("__ece").alias("ece"))
        .orderBy("bin")
    )


def ks_two_sample(df: DataFrame, value_col: str, group_col: str
                  ) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the
    ``value_col`` distributions of group 1 (``group_col`` truthy)
    and group 0 — the standard train/serve drift test alongside PSI
    (sketches.psi_by_group): PSI needs a binning choice, KS does
    not.

        ks = sup_x |F_1(x) - F_0(x)|

    evaluated at every distinct value of :func:`_value_cdf` (the
    only window runs over DISTINCT VALUES, never corpus rows). The
    sup is found over the exact integer cross-product
    |cum_1 * n_0 - cum_0 * n_1| (cum = inclusive counts) in
    DECIMAL(38,0), and ``ks_at`` is taken in the same aggregate as
    the smallest value attaining it; the single division happens at
    the end, so the statistic is order-independent and
    engine-reproducible.

    Rows with NULL value or group are dropped. Output: one row
    (n_1, n_0, ks, ks_at) where ``ks_at`` is the smallest value
    attaining the sup (NULL when either group is empty, along with
    ks)."""
    d = F.abs(_cdf_gap())
    agg = _value_cdf(
        _value_hist(df, F.col(value_col), group_col)
    ).agg(
        F.max("n1").alias("__fa"),
        F.max("n0").alias("__fb"),
        F.max(d).alias("__fd"),
        F.min_by("v", F.struct(-d, F.col("v"))).alias("__at"),
    )
    ok = (F.col("__fa") > 0) & (F.col("__fb") > 0)
    return agg.select(
        F.col("__fa").cast("bigint").alias("n_1"),
        F.col("__fb").cast("bigint").alias("n_0"),
        F.when(
            ok,
            F.col("__fd").cast("double")
            / (F.col("__fa") * F.col("__fb")).cast("double"),
        ).alias("ks"),
        F.when(ok, F.col("__at")).alias("ks_at"),
    )


def cohens_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical columns (two annotators, or a classifier vs gold
    labels):

        kappa = (N * diag - sum_k row_k * col_k)
                / (N^2  - sum_k row_k * col_k)

    where ``diag`` counts exact agreements and row_k / col_k are the
    per-category marginals of each side. Everything up to the final
    division is integer (DECIMAL(38,0)), so the statistic is exact
    and order-independent. Rows where either column is NULL are
    dropped; kappa is NULL when the denominator is zero (both sides
    constant and identical — agreement is undefined, po = pe = 1).

    Scale shape: one groupBy(a, b) confusion-matrix aggregation with
    map-side combine; marginals and the kappa arithmetic run on the
    category-squared-sized table. Output: one row
    (n, po, pe, kappa)."""
    dec = "decimal(38,0)"
    cell = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(
            F.col(a_col).alias("__a"), F.col(b_col).alias("__b")
        )
        .agg(F.count(F.lit(1)).cast(dec).alias("__n"))
    )
    rows = cell.groupBy("__a").agg(F.sum("__n").alias("__ra"))
    cols = cell.groupBy("__b").agg(F.sum("__n").alias("__cb"))
    pe_num = (
        rows.join(cols, rows["__a"] == cols["__b"], "inner")
        .agg(
            F.coalesce(
                F.sum(F.col("__ra") * F.col("__cb")),
                F.lit(0).cast(dec),
            ).alias("__pe")
        )
    )
    tot = cell.agg(
        F.sum("__n").alias("__t"),
        F.coalesce(
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__n"))),
            F.lit(0).cast(dec),
        ).alias("__diag"),
    )
    t, dg, pe = F.col("__t"), F.col("__diag"), F.col("__pe")
    return (
        tot.crossJoin(F.broadcast(pe_num))
        .select(
            t.cast("bigint").alias("n"),
            (dg.cast("double") / t.cast("double")).alias("po"),
            (pe.cast("double") / (t * t).cast("double")).alias("pe"),
            F.when(
                t * t != pe,
                (t * dg - pe).cast("double")
                / (t * t - pe).cast("double"),
            ).alias("kappa"),
        )
    )


def _mi_core(df: DataFrame, a_col: str, b_col: str,
             unit: int) -> DataFrame:
    """Mutual information (nats) between two categorical columns —
    the feature-selection signal for categorical features that
    chi-square (stats.calc_chisquare) gives for numeric ones — plus
    both marginal entropies and the normalized MI
    mi / sqrt(H_a * H_b).

    Determinism contract: every per-cell term
    (n_xy/N) * ln(n_xy*N / (n_x*n_y)) is a pure scalar of exact
    integer counts, quantized to INTEGER units of 1/``unit`` nats
    (floor, toward -inf in both engines) BEFORE summing, so the
    cross-cell sums are order-independent integer sums at any
    parallelism — a float sum over cells would drift with partial-
    aggregation order. Quantization bias is < |cells|/unit = 1e-13
    for a 100x100 grid, invisible at 6-decimal reporting.

    Scale shape: one groupBy(a, b) confusion aggregation with
    map-side combine; marginals, N and all term arithmetic run on
    the category-squared-sized table. Rows with NULL in either
    column are dropped. Returns the joined ONE-ROW units table
    (__t, __mi_u, __ha, __hb) that :func:`mutual_information` and
    :func:`theil_u` project."""
    dec = "decimal(38,0)"
    cell = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(
            F.col(a_col).alias("__a"), F.col(b_col).alias("__b")
        )
        .agg(F.count(F.lit(1)).cast(dec).alias("__n"))
    )
    ra = cell.groupBy("__a").agg(F.sum("__n").alias("__ra"))
    cb = cell.groupBy("__b").agg(F.sum("__n").alias("__cb"))
    tot = cell.agg(F.sum("__n").alias("__t"))
    nn = F.col("__n").cast("double")
    t = F.col("__t").cast("double")
    mi_term = (nn / t) * F.log(
        (F.col("__n") * F.col("__t")).cast("double")
        / (F.col("__ra") * F.col("__cb")).cast("double")
    )
    mi_units = (
        cell.join(ra, "__a")
        .join(cb, "__b")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.floor(mi_term * F.lit(float(unit))).cast(dec)
            ).alias("__mi_u")
        )
    )

    def _entropy_units(marg, col):
        p = F.col(col).cast("double") / F.col("__t").cast("double")
        return (
            marg.crossJoin(F.broadcast(tot))
            .agg(
                F.sum(
                    F.floor(-(p * F.log(p)) * F.lit(float(unit)))
                    .cast(dec)
                ).alias("__h_u")
            )
        )

    ha_u = _entropy_units(ra, "__ra")
    hb_u = _entropy_units(cb, "__cb")
    return (
        tot.crossJoin(F.broadcast(mi_units))
        .crossJoin(F.broadcast(ha_u.withColumnRenamed("__h_u", "__ha")))
        .crossJoin(F.broadcast(hb_u.withColumnRenamed("__h_u", "__hb")))
    )


def mutual_information(df: DataFrame, a_col: str, b_col: str,
                       unit: int = 10**15) -> DataFrame:
    """Mutual information (nats) + marginal entropies + normalized
    MI between two categoricals — the projection of :func:`_mi_core`
    (see its docstring for the quantized-units determinism contract
    and scale shape). Output: one row (n, mi, h_a, h_b, nmi); nmi
    NULL when either entropy is 0."""
    u = F.lit(float(unit))
    mi = F.col("__mi_u").cast("double") / u
    return (
        _mi_core(df, a_col, b_col, unit)
        .select(
            F.col("__t").cast("bigint").alias("n"),
            mi.alias("mi"),
            (F.col("__ha").cast("double") / u).alias("h_a"),
            (F.col("__hb").cast("double") / u).alias("h_b"),
            F.when(
                (F.col("__ha") > 0) & (F.col("__hb") > 0),
                (F.col("__mi_u").cast("double") / u)
                / F.sqrt(
                    (F.col("__ha").cast("double") / u)
                    * (F.col("__hb").cast("double") / u)
                ),
            ).alias("nmi"),
        )
    )


def theil_u(df: DataFrame, a_col: str, b_col: str,
            unit: int = 10**15) -> DataFrame:
    """Theil's U (uncertainty coefficient) in BOTH directions — the
    ASYMMETRIC association readout the symmetric nmi cannot give:
    u_a_given_b = MI / H(a) is the fraction of a's uncertainty
    removed by knowing b (and vice versa), so a near-deterministic
    mapping source -> lang shows up as u_lang_given_a ~ 1 even when
    lang says little about source. Same quantized-units core as
    :func:`mutual_information` (:func:`_mi_core` — exact integer
    cell counts, per-cell terms floored to 1/``unit`` nats before
    the cross-cell integer sum), so both engines replay it
    digit-for-digit. Output: one row (n, mi, h_a, h_b,
    u_a_given_b, u_b_given_a); a direction is NULL when its
    denominator entropy is 0."""
    u = F.lit(float(unit))
    mi = F.col("__mi_u").cast("double") / u
    ha = F.col("__ha").cast("double") / u
    hb = F.col("__hb").cast("double") / u
    return (
        _mi_core(df, a_col, b_col, unit)
        .select(
            F.col("__t").cast("bigint").alias("n"),
            mi.alias("mi"),
            ha.alias("h_a"),
            hb.alias("h_b"),
            F.when(F.col("__ha") > 0, mi / ha).alias(
                "u_a_given_b"
            ),
            F.when(F.col("__hb") > 0, mi / hb).alias(
                "u_b_given_a"
            ),
        )
    )


def chi2_independence(df: DataFrame, a_col: str, b_col: str,
                      unit: int = 10**9) -> DataFrame:
    """Pearson chi-square test of independence between two
    categorical columns, plus Cramér's V effect size — the classic
    companion to :func:`mutual_information` (chi2 gives a calibrated
    test statistic, MI a magnitude in nats):

        chi2 = sum_cells (o*N - r_a*c_b)^2 / (N * r_a * c_b),
        v    = sqrt(chi2 / (N * (min(|A|, |B|) - 1)))

    over the FULL |A| x |B| grid (zero-observed cells still
    contribute their expected count — a groupBy alone would silently
    drop them and understate chi2). Each term is a pure scalar of
    exact integer counts (the numerator difference stays exact in
    DECIMAL before the one float division), quantized to integer
    1/``unit`` units before summing — order-independent at any
    parallelism, bias < |cells|/unit. The p-value is
    ``numerics.chi2_sf(chi2, dof)`` driver-side (DuckDB cannot
    reproduce an incomplete-gamma tail, so the gate pins stat + dof
    and the tail function is pinned by tests/test_numerics.py).

    Scale shape: one groupBy(a, b) with map-side combine; the grid
    is a join of the two category-sized marginal tables. Rows with
    NULL in either column are dropped. Output: one row
    (n, dof, chi2, cramers_v) — NULL chi2/v when dof is 0."""
    dec = "decimal(38,0)"
    cell = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(
            F.col(a_col).alias("__a"), F.col(b_col).alias("__b")
        )
        .agg(F.count(F.lit(1)).cast(dec).alias("__n"))
    )
    ra = cell.groupBy("__a").agg(F.sum("__n").alias("__ra"))
    cb = cell.groupBy("__b").agg(F.sum("__n").alias("__cb"))
    tot = cell.agg(
        F.sum("__n").alias("__t"),
        F.count_distinct("__a").alias("__ka"),
        F.count_distinct("__b").alias("__kb"),
    )
    grid = (
        ra.crossJoin(cb)
        .join(cell, ["__a", "__b"], "left")
        .na.fill({"__n": 0})
        .crossJoin(F.broadcast(tot))
    )
    diff = (
        F.col("__n") * F.col("__t") - F.col("__ra") * F.col("__cb")
    ).cast(dec)
    term = (diff.cast("double") * diff.cast("double")) / (
        (F.col("__t") * F.col("__ra") * F.col("__cb")).cast("double")
    )
    agg = grid.agg(
        F.sum(
            F.floor(term * F.lit(float(unit))).cast(dec)
        ).alias("__u"),
        F.first("__t").alias("__t"),
        F.first("__ka").alias("__ka"),
        F.first("__kb").alias("__kb"),
    )
    dof = (F.col("__ka") - 1) * (F.col("__kb") - 1)
    chi2 = F.col("__u").cast("double") / F.lit(float(unit))
    vden = (
        F.col("__t").cast("double")
        * (F.least("__ka", "__kb") - F.lit(1)).cast("double")
    )
    return agg.select(
        F.col("__t").cast("bigint").alias("n"),
        dof.cast("bigint").alias("dof"),
        F.when(dof > 0, chi2).alias("chi2"),
        F.when(dof > 0, F.sqrt(chi2 / vden)).alias("cramers_v"),
    )


def spearman_corr(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Exact tie-aware Spearman rank correlation between two numeric
    columns — the monotone-association readout beside
    :func:`mutual_information` (categorical) and the Pearson
    correlation matrix (stats.corrcoef): rho = Pearson correlation of
    the MIDRANKS (average rank over each tie class), robust to the
    heavy-tailed, tie-ridden features the engine produces (lengths,
    counts, quantized scores).

    No per-row rank join and no global row sort: every sufficient
    statistic comes from the JOINT VALUE HISTOGRAM. groupBy(a, b)
    yields cell counts n_ab; each marginal's midranks come from a
    cumulative window over its DISTINCT-VALUE table (the house
    collapse — thousands of rows, never the corpus). Midranks are
    kept exact by DOUBLING (R = 2*cum_below + c + 1, an integer; the
    factor 4 cancels between numerator and denominator), so

        rho = (n*S_ab - S_a*S_b)
              / sqrt((n*S_aa - S_a^2) * (n*S_bb - S_b^2))

    is a pure scalar of exact DECIMAL(38,0) integer sums —
    order-independent at any parallelism, one float division at the
    end. Exactness envelope: the n*S products reach ~4*n^4, inside
    DECIMAL(38) for n up to ~2e9 rows per call; at 10^12-turn scale
    apply per-slice or pre-aggregate (rho over a quantized value is
    rho of the quantized ranking, exactly).

    Rows with NULL in either column are dropped. Output: one row
    (n, rho) — rho NULL when either marginal is constant (n <= 1 or
    zero variance)."""
    dec = "decimal(38,0)"
    joint = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(
            F.col(a_col).alias("__a"), F.col(b_col).alias("__b")
        )
        .agg(F.count(F.lit(1)).cast(dec).alias("__n"))
    )

    def _midranks(col):
        marg = joint.groupBy(col).agg(F.sum("__n").alias("__c"))
        w_cum = W.orderBy(col).rowsBetween(W.unboundedPreceding, -1)
        return marg.select(
            col,
            "__c",
            (
                F.lit(2).cast(dec)
                * F.coalesce(
                    F.sum("__c").over(w_cum), F.lit(0).cast(dec)
                )
                + F.col("__c")
                + F.lit(1).cast(dec)
            ).alias(col + "_r"),
        )

    ma = _midranks("__a")
    mb = _midranks("__b")

    def _msums(m, col):
        return m.agg(
            F.sum(F.col("__c") * F.col(col + "_r")).alias("s1"),
            F.sum(
                F.col("__c") * F.col(col + "_r") * F.col(col + "_r")
            ).alias("s2"),
        )

    sa = _msums(ma, "__a").select(
        F.col("s1").alias("__s1a"), F.col("s2").alias("__s2a")
    )
    sb = _msums(mb, "__b").select(
        F.col("s1").alias("__s1b"), F.col("s2").alias("__s2b")
    )
    cross = (
        joint.join(ma.select("__a", "__a_r"), "__a")
        .join(mb.select("__b", "__b_r"), "__b")
        .agg(
            F.sum("__n").alias("__t"),
            F.sum(
                F.col("__n") * F.col("__a_r") * F.col("__b_r")
            ).alias("__sab"),
        )
    )
    g = cross.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sb))
    num = F.col("__t") * F.col("__sab") - F.col("__s1a") * F.col(
        "__s1b"
    )
    dena = F.col("__t") * F.col("__s2a") - F.col("__s1a") * F.col(
        "__s1a"
    )
    denb = F.col("__t") * F.col("__s2b") - F.col("__s1b") * F.col(
        "__s1b"
    )
    return g.select(
        F.col("__t").cast("bigint").alias("n"),
        F.when(
            (dena > 0) & (denb > 0),
            num.cast("double")
            / F.sqrt(dena.cast("double") * denb.cast("double")),
        ).alias("rho"),
    )


def js_divergence(df: DataFrame, group_col: str, value_col: str,
                  unit: int = 10**15) -> DataFrame:
    """Per-slice Jensen-Shannon divergence between each group's
    categorical value distribution and the REST of the corpus — the
    bounded, symmetric drift readout beside PSI (which explodes on
    empty bins) and KS (numeric-only): with P the slice, Q the
    complement and M = (P + Q) / 2,

        jsd = 0.5 * KL(P || M) + 0.5 * KL(Q || M)   (nats)

    always finite (M > 0 wherever either side is), 0 iff P = Q,
    capped at ln 2; ``jsd_bits`` = jsd / ln 2 in [0, 1].

    Determinism contract (house rule, as mutual_information): each
    grid cell's term is a pure scalar of exact integer counts,
    quantized to integer 1/``unit`` units BEFORE the per-group sum —
    order-independent at any parallelism, bias < |values|/unit.

    Scale shape: one groupBy(group, value) count with map-side
    combine; the FULL |groups| x |values| grid (a value absent from
    the slice still contributes its Q-side mass — dropping it would
    understate the divergence) is a join of the two vocabulary-sized
    marginal tables, never corpus-sized. Rows with NULL in either
    column are dropped. Output: one row per group
    (group, n_group, n_rest, jsd, jsd_bits) — NULL when the group IS
    the corpus (n_rest = 0)."""
    dec = "decimal(38,0)"
    cell = (
        df.where(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
        )
        .agg(F.count(F.lit(1)).cast(dec).alias("__n"))
    )
    gt = cell.groupBy("__g").agg(F.sum("__n").alias("__ng"))
    vt = cell.groupBy("__v").agg(F.sum("__n").alias("__nv"))
    tot = cell.agg(F.sum("__n").alias("__t"))
    grid = (
        gt.crossJoin(vt)
        .join(cell, ["__g", "__v"], "left")
        .na.fill({"__n": 0})
        .crossJoin(F.broadcast(tot))
    )
    ng = F.col("__ng").cast("double")
    nr = (F.col("__t") - F.col("__ng")).cast("double")
    p = F.col("__n").cast("double") / ng
    q = (F.col("__nv") - F.col("__n")).cast("double") / nr
    m = (p + q) / F.lit(2.0)
    term = (
        F.when(F.col("__n") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(
            F.col("__nv") > F.col("__n"), q * F.log(q / m)
        ).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    per = grid.groupBy("__g", "__ng", "__t").agg(
        F.sum(
            F.when(
                F.col("__t") > F.col("__ng"),
                F.floor(term * F.lit(float(unit))).cast(dec),
            )
        ).alias("__u")
    )
    jsd = F.col("__u").cast("double") / F.lit(float(unit))
    return per.select(
        F.col("__g").alias(group_col),
        F.col("__ng").cast("bigint").alias("n_group"),
        (F.col("__t") - F.col("__ng")).cast("bigint").alias("n_rest"),
        jsd.alias("jsd"),
        (jsd / F.lit(math.log(2.0))).alias(
            "jsd_bits"
        ),
    )


def kendall_tau(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Exact tie-aware Kendall tau-b between two numeric columns —
    the pair-concordance companion to :func:`spearman_corr` (rank
    covariance): with C/D the concordant/discordant pair counts and
    n1/n2 the within-column tie pairs,

        tau_b = (C - D) / sqrt((n0 - n1) * (n0 - n2)),
        n0 = n * (n - 1) / 2

    (Kendall 1945). No O(n^2) row pairs: rows collapse to the JOINT
    VALUE HISTOGRAM first, then C and D come from one self-join of
    the CELL table restricted to strictly-greater a (every unordered
    row pair with distinct a falls in exactly one ordered cell pair;
    pairs tying on a are neither concordant nor discordant), and the
    tie terms from the marginal histograms. Everything is an exact
    DECIMAL(38,0) integer sum of cell-count products —
    order-independent at any parallelism, one float division at the
    end.

    Cost envelope: the self-join is |cells| x |cells per a-run|,
    quadratic in DISTINCT-VALUE-PAIR count, not rows — for the
    quantized scores the engine produces (counts, lengths, HDR
    buckets) that is thousands of cells; for a continuous pair,
    quantize first (tau over the quantized values is tau of the
    quantized ranking, exactly).

    Rows with NULL in either column are dropped. Output: one row
    (n, n_concordant, n_discordant, tau_b) — tau_b NULL when either
    column is constant."""
    dec = "decimal(38,0)"
    cell = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(
            F.col(a_col).alias("__a"), F.col(b_col).alias("__b")
        )
        .agg(F.count(F.lit(1)).cast(dec).alias("__n"))
    )
    lo = cell.select(
        F.col("__a").alias("__a1"),
        F.col("__b").alias("__b1"),
        F.col("__n").alias("__n1"),
    )
    hi = cell.select(
        F.col("__a").alias("__a2"),
        F.col("__b").alias("__b2"),
        F.col("__n").alias("__n2"),
    )
    pairs = lo.join(hi, F.col("__a2") > F.col("__a1"), "inner")
    cd = pairs.agg(
        F.sum(
            F.when(
                F.col("__b2") > F.col("__b1"),
                F.col("__n1") * F.col("__n2"),
            ).otherwise(F.lit(0).cast(dec))
        ).alias("__c"),
        F.sum(
            F.when(
                F.col("__b2") < F.col("__b1"),
                F.col("__n1") * F.col("__n2"),
            ).otherwise(F.lit(0).cast(dec))
        ).alias("__d"),
    )

    def _tiepairs(col, out):
        m = cell.groupBy(col).agg(F.sum("__n").alias("__c"))
        return m.agg(
            F.sum(
                F.col("__c") * (F.col("__c") - F.lit(1).cast(dec))
            ).alias(out),
            F.sum("__c").alias(out + "_n"),
        )

    ta = _tiepairs("__a", "__t1")
    tb = _tiepairs("__b", "__t2")
    g = (
        cd.crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb.drop("__t2_n")))
        .withColumnRenamed("__t1_n", "__t")
    )
    # doubled pair counts (x(x-1) not x(x-1)/2): the factor 2 cancels
    # inside the sqrt product against (C - D)'s, so nothing divides
    n0 = F.col("__t") * (F.col("__t") - F.lit(1).cast(dec))
    den = (n0 - F.col("__t1")).cast("double") * (
        n0 - F.col("__t2")
    ).cast("double")
    cc, dd = F.col("__c"), F.col("__d")
    return g.select(
        F.col("__t").cast("bigint").alias("n"),
        cc.cast("bigint").alias("n_concordant"),
        dd.cast("bigint").alias("n_discordant"),
        F.when(
            den > 0,
            F.lit(2.0)
            * (cc - dd).cast("double")
            / F.sqrt(den),
        ).alias("tau_b"),
    )


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Decile lift / cumulative-gains table — the model-eval readout
    between auc_exact (one number) and calibration_bins (probability
    quality): rank rows by score DESCENDING, cut into ``n_bins``
    rank bins, and report each bin's positive rate against the base
    rate plus the cumulative gain curve ("the top 20% of scores
    captures X% of all positives").

    Tie rule (deterministic, SQL-replayable): all rows sharing a
    score value live in the SAME bin — the bin of the value group's
    cumulative endpoint, bin = ceil(cum * B / n) in pure integer
    arithmetic ((cum * B + n - 1) DIV n). Heavy ties therefore make
    uneven bins (n per bin is reported); no row-level rank is ever
    materialized.

    Scale shape: ONE map-side-combined groupBy(score) histogram, a
    cumulative window over the distinct-score table (the
    quantiles_exact trick), a second groupBy down to <= n_bins rows
    and a bin-count-sized cumulative window. Counts are exact
    integers; rate/lift/gain are float ratios of them. Output:
    (bin, n, n_pos, rate, lift, cum_n, cum_pos, cum_gain,
    cum_lift); lift/cum_lift NULL when the corpus has no
    positives."""
    hist = df.groupBy(score_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c"),
        F.sum(F.col(label_col).cast("bigint"))
        .cast("bigint")
        .alias("__p"),
    ).localCheckpoint(eager=True)  # feeds cum + totals: scan once
    w = (
        W.orderBy(F.col(score_col).desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = hist.select(
        F.sum("__c").over(w).alias("__cum"),
        "__c",
        "__p",
    )
    tot = hist.agg(
        F.sum("__c").cast("bigint").alias("__n"),
        F.sum("__p").cast("bigint").alias("__tp"),
    )
    binned = cum.crossJoin(F.broadcast(tot)).select(
        F.expr(
            f"CAST((__cum * {int(n_bins)} + __n - 1) DIV __n "
            "AS BIGINT)"
        ).alias("bin"),
        "__c",
        "__p",
        "__n",
        "__tp",
    )
    bins = binned.groupBy("bin", "__n", "__tp").agg(
        F.sum("__c").cast("bigint").alias("n"),
        F.sum("__p").cast("bigint").alias("n_pos"),
    )
    wb = W.orderBy("bin").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    base = F.col("__tp").cast("double") / F.col("__n").cast("double")
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    cum_n = F.sum("n").over(wb).cast("bigint")
    cum_pos = F.sum("n_pos").over(wb).cast("bigint")
    has_pos = F.col("__tp") > 0
    return bins.select(
        F.col("bin").cast("int").alias("bin"),
        "n",
        "n_pos",
        rate.alias("rate"),
        F.when(has_pos, rate / base).alias("lift"),
        cum_n.alias("cum_n"),
        cum_pos.alias("cum_pos"),
        F.when(
            has_pos,
            cum_pos.cast("double") / F.col("__tp").cast("double"),
        ).alias("cum_gain"),
        F.when(
            has_pos,
            (cum_pos.cast("double") / cum_n.cast("double")) / base,
        ).alias("cum_lift"),
    )


def classification_report(
    df: DataFrame,
    true_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class confusion statistics for a multi-class classifier —
    the sklearn-style report (precision/recall/F1 per class +
    overall accuracy) the eval family was missing between auc_exact
    (binary ranking) and cohens_kappa (chance-corrected agreement).

    Per class c over the (true, pred) pair histogram:
        tp = |true = c & pred = c|,  n_true = |true = c|,
        n_pred = |pred = c|,
        precision = tp / n_pred        (NULL when never predicted)
        recall    = tp / n_true        (NULL when never occurs)
        f1 = 2 tp / (n_true + n_pred)  (the 2PR/(P+R) identity in
                                        exact integers)
    accuracy = sum(tp) / n, repeated on every row. Classes are the
    UNION of observed true and pred labels (a never-true predicted
    class gets a row with n_true = 0). Rows with a NULL label on
    either side are dropped.

    Scale shape: one map-side-combined groupBy down to the
    |classes|^2 pair histogram; everything after is arithmetic on
    class-sized rollups plus one broadcast 1-row total. All counts
    exact integers; the four ratios are single float divisions.
    Output: (class, n_true, n_pred, tp, precision, recall, f1,
    accuracy)."""
    pairs = (
        df.where(
            F.col(true_col).isNotNull() & F.col(pred_col).isNotNull()
        )
        .groupBy(
            F.col(true_col).alias("__t"), F.col(pred_col).alias("__p")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        # classes^2-sized; feeds three rollups: scan once
        .localCheckpoint(eager=True)
    )
    by_true = pairs.groupBy(F.col("__t").alias("class")).agg(
        F.sum("__c").cast("bigint").alias("n_true"),
        F.sum(F.when(F.col("__p") == F.col("__t"), F.col("__c")))
        .cast("bigint")
        .alias("__tp_t"),
    )
    by_pred = pairs.groupBy(F.col("__p").alias("class")).agg(
        F.sum("__c").cast("bigint").alias("n_pred")
    )
    cls = by_true.join(by_pred, "class", "full").select(
        "class",
        F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
        F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
        F.coalesce("__tp_t", F.lit(0)).cast("bigint").alias("tp"),
    )
    tot = pairs.agg(
        F.sum("__c").cast("bigint").alias("__n"),
        F.sum(F.when(F.col("__p") == F.col("__t"), F.col("__c")))
        .cast("bigint")
        .alias("__corr"),
    )
    tp, nt, np_ = (
        F.col("tp").cast("double"),
        F.col("n_true").cast("double"),
        F.col("n_pred").cast("double"),
    )
    return cls.crossJoin(F.broadcast(tot)).select(
        "class",
        "n_true",
        "n_pred",
        "tp",
        F.when(F.col("n_pred") > 0, tp / np_).alias("precision"),
        F.when(F.col("n_true") > 0, tp / nt).alias("recall"),
        (F.lit(2.0) * tp / (nt + np_)).alias("f1"),
        (
            F.coalesce(F.col("__corr"), F.lit(0)).cast("double")
            / F.col("__n").cast("double")
        ).alias("accuracy"),
    )


def wasserstein_by_group(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Two-sample Wasserstein-1 (earth-mover) distance between the
    integer ``value_col`` distributions of group 1 and group 0 —
    the INTEGRAL companion to :func:`ks_two_sample` (KS reports the
    worst single CDF gap; W1 integrates ALL of it, so a broad small
    shift that KS underweights still registers, in the column's own
    units):

        W1 = integral |F_1(x) - F_0(x)| dx
           = sum_i |F_1(v_i) - F_0(v_i)| * (v_{i+1} - v_i)

    over consecutive distinct values. Multiplying through by
    n_1 * n_0 makes every term |cum_1 * n_0 - cum_0 * n_1| * gap an
    exact DECIMAL integer; the single division at the end gives the
    statistic — order-independent, engine-reproducible, and (unlike
    the quantized drift scores) exact with NO unit parameter.
    Requires an integer-valued column (the gap arithmetic).

    Same scale shape as KS: one aggregate over :func:`_value_cdf`,
    the gap taken by ``lead(v)`` over the same value order.
    Output: one row (n_1, n_0, w1); w1 NULL when either group is
    empty."""
    v = F.col("v").cast(_DEC)
    gap = F.coalesce(F.lead(v).over(W.orderBy("v")), v) - v
    term = F.abs(_cdf_gap()) * F.col("__gap")
    return (
        _value_cdf(_value_hist(df, F.col(value_col), group_col))
        .withColumn("__gap", gap)
        .agg(
            F.max("n1").alias("__fa"),
            F.max("n0").alias("__fb"),
            F.sum(term).alias("__w"),
        )
        .select(
            F.col("__fa").cast("bigint").alias("n_1"),
            F.col("__fb").cast("bigint").alias("n_0"),
            F.when(
                (F.col("__fa") > 0) & (F.col("__fb") > 0),
                F.col("__w").cast("double")
                / (F.col("__fa") * F.col("__fb")).cast("double"),
            ).alias("w1"),
        )
    )


def cochran_armitage(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Cochran-Armitage trend test: does the positive rate move
    MONOTONICALLY with an ordered integer score (length bin, star
    rating, severity grade)? The ordered-alternative companion to
    chi2_independence (which spends power on every permutation of
    the categories; CA spends it all on the trend):

    With per-score-group totals n_i / positives y_i, scores w_i and
    corpus totals N / Y, the z statistic multiplies out to

        z = (N*Swy - Y*Swn) * sqrt(N)
            / sqrt( Y*(N-Y) * (N*Swww - Swn^2) )
        Swy = sum w_i y_i,  Swn = sum w_i n_i,  Swww = sum w_i^2 n_i

    — every term an exact DECIMAL integer (the score column must be
    integer-valued), one float expression at the end; z > 0 means
    the rate RISES with the score. NULL when the label or score is
    constant (no trend is defined).

    Scale shape: one map-side-combined groupBy(score) then
    arithmetic on the |scores|-sized table. Output: one row
    (n, n_pos, k_bins, z)."""
    dec = "decimal(38,0)"
    w = F.col(score_col).cast(dec)
    y = F.col(label_col).cast(dec)
    g = (
        df.where(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .groupBy(score_col)
        .agg(
            F.count(F.lit(1)).cast(dec).alias("__n"),
            F.sum(y).alias("__y"),
        )
    )
    a = g.agg(
        F.sum("__n").alias("N"),
        F.sum("__y").alias("Y"),
        F.count(F.lit(1)).cast("bigint").alias("k_bins"),
        F.sum(w * F.col("__y")).alias("Swy"),
        F.sum(w * F.col("__n")).alias("Swn"),
        F.sum(w * w * F.col("__n")).alias("Sww"),
    )
    N, Y = F.col("N"), F.col("Y")
    num = (N * F.col("Swy") - Y * F.col("Swn")).cast("double")
    b = (
        Y * (N - Y) * (N * F.col("Sww") - F.col("Swn") * F.col("Swn"))
    ).cast("double")
    ok = (Y > 0) & (Y < N) & (
        N * F.col("Sww") - F.col("Swn") * F.col("Swn") > 0
    )
    return a.select(
        N.cast("bigint").alias("n"),
        Y.cast("bigint").alias("n_pos"),
        "k_bins",
        F.when(
            ok, num * F.sqrt(N.cast("double")) / F.sqrt(b)
        ).alias("z"),
    )


def mannwhitney_u(df: DataFrame, value_col: str, group_col: str
                  ) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test between the
    ``value_col`` distributions of group 1 (``group_col`` truthy) and
    group 0 — the location-shift companion to :func:`ks_two_sample`
    (which is shape-sensitive but diffuse) and
    :func:`wasserstein_by_group` (magnitude, not significance): the
    standard "did the median move?" readout for the heavy-tailed,
    tie-ridden quantities the engine produces (lengths, counts,
    quantized scores), robust where Welch's t is not.

    No per-row rank join and no corpus sort: every sufficient
    statistic is one aggregate over :func:`_value_cdf` (the only
    window runs over distinct values). Midranks are kept exact by
    DOUBLING (the house rule shared with :func:`spearman_corr` and
    :func:`auc_exact`):

        R1d  = sum_v a_v * (2*cum_t_below(v) + t_v + 1)   (= 2*R1)
        2*U1 = R1d - n1*(n1+1)
        z    = (2*U1 - n1*n0)
               / (2 * sqrt(n1*n0 * (N^3 - N - T) / (12*N*(N-1))))

    with t_v = a_v + b_v the pooled count at value v and
    T = sum_v (t_v^3 - t_v) the standard tie correction — every
    numerator an exact DECIMAL(38,0) integer, order-independent at
    any parallelism; the float expression at the end is written
    identically in the SQL oracle so z reproduces digit-for-digit.
    Exactness envelope: N^3 stays inside DECIMAL(38) for N up to
    ~2e12 rows per call (the n1*n0 factor is applied in DOUBLE,
    outside the decimal product); beyond that, apply per-slice.

    Rows with NULL value or group are dropped. Output: one row
    (n_1, n_0, u1, z, rank_biserial) — u1 is group 1's U statistic
    (can end in .5 under ties), rank_biserial = 2*U1/(n1*n0) - 1 the
    effect size in [-1, 1]; z and rank_biserial NULL when either
    group is empty or every row is one tie block."""
    dec = _DEC
    t = F.col("a") + F.col("b")
    g = _value_cdf(
        _value_hist(df, F.col(value_col), group_col)
    ).agg(
        F.max("n1").alias("__n1"),
        F.max("n0").alias("__n0"),
        F.sum(
            F.col("a")
            * (
                F.lit(2).cast(dec) * (F.col("ca") + F.col("cb"))
                + t
                + F.lit(1).cast(dec)
            )
        ).alias("__r1d"),
        F.sum(
            t * (t - F.lit(1).cast(dec)) * (t + F.lit(1).cast(dec))
        ).alias("__tie"),
    )
    n1, n0 = F.col("__n1"), F.col("__n0")
    N = n1 + n0
    num2 = (
        F.col("__r1d") - n1 * (n1 + F.lit(1).cast(dec)) - n1 * n0
    )
    cube = N * (N - F.lit(1).cast(dec)) * (N + F.lit(1).cast(dec))
    vnum = cube - F.col("__tie")
    ok = (n1 > 0) & (n0 > 0) & (vnum > 0)
    var_u = (
        n1.cast("double")
        * n0.cast("double")
        * vnum.cast("double")
        / (
            F.lit(12.0)
            * N.cast("double")
            * (N - F.lit(1).cast(dec)).cast("double")
        )
    )
    return g.select(
        n1.cast("bigint").alias("n_1"),
        n0.cast("bigint").alias("n_0"),
        F.when(
            n1 > 0,
            (
                F.col("__r1d") - n1 * (n1 + F.lit(1).cast(dec))
            ).cast("double")
            / F.lit(2.0),
        ).alias("u1"),
        F.when(
            ok, num2.cast("double") / (F.lit(2.0) * F.sqrt(var_u))
        ).alias("z"),
        F.when(
            (n1 > 0) & (n0 > 0),
            num2.cast("double") / (n1 * n0).cast("double"),
        ).alias("rank_biserial"),
    )


def cvm_two_sample(df: DataFrame, value_col: str, group_col: str
                   ) -> DataFrame:
    """Two-sample Cramer-von Mises statistic between the
    ``value_col`` distributions of group 1 (``group_col`` truthy) and
    group 0 — the INTEGRAL companion that completes the drift trio:
    KS (:func:`ks_two_sample`) reads the single worst ECDF gap,
    Wasserstein-1 (:func:`wasserstein_by_group`) the area between
    ECDFs in value units, CvM the squared gap integrated under the
    POOLED empirical measure — sensitive to many small distributed
    shifts KS's sup misses, scale-free where W1 is not:

        T = n1*n0 / N^2 * sum_{i=1..N} (F1(x_i) - F2(x_i))^2
          = sum_v t_v * (ca_v*n0 - cb_v*n1)^2 / (N^2 * n1 * n0)

    over the pooled sample in one aggregate over :func:`_value_cdf`
    (ca/cb here = inclusive cumulative counts; the only window runs
    over DISTINCT values). The sum S = sum_v t_v*(ca*n0 - cb*n1)^2
    accumulates exact DECIMAL(38,0) integers — order-independent,
    one float division at the end, so the SQL oracle reproduces T
    digit-for-digit. Exactness envelope: (ca*n0)^2 <= N^4/16, inside
    DECIMAL(38) for N up to ~2e9 rows per call (the spearman_corr
    n^4 envelope); at 10^12 scale apply per-slice or quantize first
    (CvM over a quantized value is CvM of the quantized ECDFs,
    exactly).

    Rows with NULL value or group are dropped. Output: one row
    (n_1, n_0, cvm) — NULL cvm when either group is empty."""
    d = _cdf_gap()
    g = _value_cdf(
        _value_hist(df, F.col(value_col), group_col)
    ).agg(
        F.max("n1").alias("__n1"),
        F.max("n0").alias("__n0"),
        F.sum((F.col("a") + F.col("b")) * d * d).alias("__s"),
    )
    n1, n0 = F.col("__n1"), F.col("__n0")
    N = n1 + n0
    return g.select(
        n1.cast("bigint").alias("n_1"),
        n0.cast("bigint").alias("n_0"),
        F.when(
            (n1 > 0) & (n0 > 0),
            F.col("__s").cast("double")
            / (
                N.cast("double")
                * N.cast("double")
                * n1.cast("double")
                * n0.cast("double")
            ),
        ).alias("cvm"),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    key_cols: list[str] | str | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a table
    of hypotheses — the multiple-testing step protosc's filter model
    implies but never performs (reference wrapper/utils.py
    compute_pval ranks features by raw p; at corpus scale, screening
    thousands of slices/features at raw alpha guarantees false
    alarms). Standard step-up with adjusted q-values:

        q_(i) = min_{j >= i} ( p_(j) * m / j ),  clipped to 1
        reject <=> q <= alpha

    so ``reject`` is exactly the BH step-up set at level ``alpha``.
    Ordering ties on p are broken by ``key_cols`` (deterministic at
    any parallelism); tied p's always share one q, so the tiebreak
    never changes a decision, only the rank bookkeeping.

    Scale shape: the two windows run over the HYPOTHESIS table (one
    row per slice/feature — thousands, never the corpus; the same
    bounded-window contract as textops' vocab windows). Rows with
    NULL p are dropped (they carry no evidence and must not inflate
    m). Output: input columns + (m, rank, q, reject) with rank the
    ascending p rank."""
    keys = (
        [key_cols]
        if isinstance(key_cols, str)
        else list(key_cols or [])
    )
    base = df.where(F.col(p_col).isNotNull())
    order = [F.col(p_col).asc()] + [F.col(k).asc() for k in keys]
    w_rank = W.orderBy(*order)
    m = F.count(F.lit(1)).over(
        W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    ranked = base.withColumn(
        "rank", F.row_number().over(w_rank).cast("bigint")
    ).withColumn("m", m.cast("bigint"))
    raw = (
        F.col(p_col).cast("double")
        * F.col("m").cast("double")
        / F.col("rank").cast("double")
    )
    w_tail = W.orderBy(F.col("rank").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    q = F.least(F.min(raw).over(w_tail), F.lit(1.0))
    return ranked.withColumn("q", q).withColumn(
        "reject", (F.col("q") <= F.lit(float(alpha)))
    )


def ndcg_at_k(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_cols: list[str] | str,
    k: int = 100,
    unit: int = 10**9,
) -> DataFrame:
    """NDCG@k of a score column against binary relevance — the
    position-weighted ranking metric completing the evaluation
    family (:func:`auc_exact` is threshold- and position-free,
    :func:`lift_table` reads deciles; NDCG grades the HEAD, where
    retrieval and curation actually consume the ranking):

        DCG@k  = sum_{i<=k} rel_i / log2(i + 1)
        IDCG@k = sum_{i<=min(k, P)} 1 / log2(i + 1)   (P = total
                 relevant rows in the corpus)
        NDCG   = DCG / IDCG

    The ranking is made deterministic by tie-breaking on
    ``id_cols`` (score desc, ids asc), so both engines rank
    identically; each position's term is quantized to integer
    1/``unit`` units before the sum (house rule). Rows with NULL
    score or label are dropped.

    Scale shape: the top-k comes from ``orderBy().limit(k)`` —
    Spark's TakeOrderedAndProject (per-partition top-k then a
    k-row merge on the driver, never a global sort); P is one
    map-side-combined count; the rank window runs over k rows.
    Output: one row (k, n_pos, dcg, idcg, ndcg) — NULL ndcg when
    the corpus has no relevant rows."""
    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    dec = "decimal(38,0)"
    base = df.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    order = [F.col(score_col).desc()] + [
        F.col(c).asc() for c in ids
    ]
    top = base.orderBy(*order).limit(int(k))
    w = W.orderBy(*order)
    u = F.lit(float(unit))
    ranked = top.select(
        F.col(label_col).cast("int").alias("__rel"),
        F.row_number().over(w).alias("__i"),
    )
    # 1/log2(i+1) written as ln(2)/ln(i+1): ln is the one log both
    # engines evaluate bit-identically across the oracle suite
    ln2 = F.lit(0.6931471805599453)
    dcg_q = ranked.agg(
        F.sum(
            F.floor(
                F.col("__rel").cast("double")
                * ln2
                / F.log(F.col("__i").cast("double") + F.lit(1.0))
                * u
            ).cast(dec)
        ).alias("__qdcg")
    )
    npos = base.agg(
        F.sum(F.col(label_col).cast("int")).cast("bigint").alias(
            "n_pos"
        )
    )
    m = F.least(F.lit(int(k)).cast("bigint"), F.col("n_pos"))
    idcg_q = F.aggregate(
        F.sequence(F.lit(1).cast("bigint"), m),
        F.lit(0).cast(dec),
        lambda acc, i: acc
        + F.floor(
            ln2 / F.log(i.cast("double") + F.lit(1.0)) * u
        ).cast(dec),
    )
    dcg = F.col("__qdcg").cast("double") / u
    return (
        dcg_q.crossJoin(F.broadcast(npos))
        .withColumn("__qidcg", F.when(F.col("n_pos") > 0, idcg_q))
        .select(
            F.lit(int(k)).alias("k"),
            "n_pos",
            F.coalesce(dcg, F.lit(0.0)).alias("dcg"),
            (F.col("__qidcg").cast("double") / u).alias("idcg"),
            F.when(
                F.col("n_pos") > 0,
                F.coalesce(dcg, F.lit(0.0))
                / (F.col("__qidcg").cast("double") / u),
            ).alias("ndcg"),
        )
    )


def gini_concentration(
    df: DataFrame,
    value_col: str,
    group_col: str,
    top_frac: float = 0.1,
) -> DataFrame:
    """Per-slice Gini coefficient + top-share concentration of a
    non-negative integer column — "is this source's length / token /
    activity mass spread out or held by a few rows?", the inequality
    audit beside the Simpson diversity index (corpus_simpson measures
    CATEGORY concentration; this measures MASS concentration within a
    numeric column):

        G = 2 * sum_i i * x_(i)  / (n * S)  -  (n + 1) / n
        top_share = (mass of the ceil(top_frac * n) largest rows) / S

    with x_(1..n) ascending and S = sum x. Both are computed from the
    VALUE HISTOGRAM, never a corpus-sized sort: a tied block of f rows
    at value v occupying ranks cb+1..cb+f contributes
    v * (2*f*cb + f*(f+1)) to the DOUBLED rank sum 2R (invariant to
    intra-tie order, so the statistic is deterministic without a
    tiebreak column; doubling keeps it integer-multiplies-only) and
    min(f, max(0, cb + f - (n - k))) rows to the top-k mass. Every
    term is an exact DECIMAL(38,0) integer; each slice performs
    exactly two float divisions at the end.

    Scale shape: one groupBy(group, value) histogram collapse, one
    cumulative window over DISTINCT VALUES per slice (bounded by the
    value domain, never the row count — the auc_exact/wasserstein
    collapse), one small join of per-slice totals back onto the
    histogram. Output: (group, n, total, gini, top_share); NULL
    statistics when n = 0 or S = 0 (all-zero slice).

    Gini here is the population (biased) form — multiply by
    n/(n-1) for the sample-corrected variant; top_frac rows, not
    mass (the "what do the biggest 10% of documents hold?" reading).
    """
    dec = "decimal(38,0)"
    v = F.col(value_col).cast(dec)
    hist = (
        df.where(
            F.col(value_col).isNotNull() & (F.col(value_col) >= 0)
        )
        .groupBy(group_col, v.alias("__v"))
        .agg(F.count(F.lit(1)).cast(dec).alias("__f"))
    )
    w = (
        W.partitionBy(group_col)
        .orderBy("__v")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    hist = hist.withColumn(
        "__cb", F.coalesce(F.sum("__f").over(w), F.lit(0).cast(dec))
    )
    tot = hist.groupBy(group_col).agg(
        F.sum("__f").alias("__n"),
        F.sum(F.col("__f") * F.col("__v")).alias("__s"),
    )
    j = hist.join(F.broadcast(tot), group_col)
    # ceil(top_frac * n) as exact integer arithmetic on a rational
    # top_frac = p / q (quantized to 6 decimal digits — the gate
    # contract elsewhere): k = ceil(n * p / q) = -floor(-n*p / q)
    p = int(round(top_frac * 10**6))
    k = -F.floor(
        (-F.col("__n") * F.lit(p).cast(dec))
        / F.lit(10**6).cast(dec)
    ).cast(dec)
    f, cb, n = F.col("__f"), F.col("__cb"), F.col("__n")
    # doubled rank sum 2R = sum v * (2*f*cb + f*(f+1)) — integer
    # multiplies only, no decimal division anywhere
    two = F.lit(2).cast(dec)
    rank_term2 = F.col("__v") * (
        two * f * cb + f * (f + F.lit(1).cast(dec))
    )
    in_top = F.greatest(
        F.lit(0).cast(dec), F.least(f, cb + f - (n - k))
    )
    out = j.groupBy(group_col).agg(
        F.max("__n").alias("__n"),
        F.max("__s").alias("__s"),
        F.sum(rank_term2.cast(dec)).alias("__r2"),
        F.sum((F.col("__v") * in_top).cast(dec)).alias("__t"),
    )
    nn = F.col("__n").cast("double")
    ss = F.col("__s").cast("double")
    ok = (F.col("__n") > 0) & (F.col("__s") > 0)
    return out.select(
        group_col,
        F.col("__n").cast("bigint").alias("n"),
        F.col("__s").cast("bigint").alias("total"),
        F.when(
            ok,
            F.col("__r2").cast("double") / (nn * ss)
            - (nn + F.lit(1.0)) / nn,
        ).alias("gini"),
        F.when(ok, F.col("__t").cast("double") / ss).alias(
            "top_share"
        ),
    )


def mcnemar_test(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """McNemar's test for two PAIRED binary filters over the same
    rows — "do these two keep-rules disagree more than chance in one
    direction?", the marginal-homogeneity companion to
    :func:`cohens_kappa` (kappa scores agreement strength; McNemar
    scores the ASYMMETRY of the disagreements — a filter pair can
    agree 99% yet still systematically leak in one direction):

        chi2 = (|b - c| - 1)^2 / (b + c)

    with b = a-only-keeps, c = b-only-keeps (the classical
    continuity-corrected form; ~ chi2_1 under H0 b = c).
    ``significant`` is the 5% verdict chi2 > 3.841459. For tiny
    discordant counts (b + c < ~25) the exact binomial is the better
    reading — at corpus scale discordant counts are large and the
    corrected chi2 is standard; the exact cells are emitted so any
    finer test can be run on them.

    Scale shape: ONE conditional-sum aggregation over the pair
    column — no window, no join, map-side combined; every cell is an
    exact BIGINT and chi2 is one float division. Rows where either
    flag is NULL are excluded (emitted as n_null). Output: one row
    (n, n_null, n00, n01, n10, n11, chi2, significant); chi2 NULL
    when b + c = 0 (the filters never disagree)."""
    a = F.col(a_col).cast("int")
    b = F.col(b_col).cast("int")
    both = a.isNotNull() & b.isNotNull()

    def cell(av, bv):
        return F.sum(
            F.when(both & (a == av) & (b == bv), 1).otherwise(0)
        ).cast("bigint")

    g = df.agg(
        F.sum(F.when(both, 1).otherwise(0)).cast("bigint").alias(
            "n"
        ),
        F.sum(F.when(both, 0).otherwise(1)).cast("bigint").alias(
            "n_null"
        ),
        cell(0, 0).alias("n00"),
        cell(0, 1).alias("n01"),
        cell(1, 0).alias("n10"),
        cell(1, 1).alias("n11"),
    )
    d = F.abs(F.col("n10") - F.col("n01")).cast("double")
    tot = (F.col("n10") + F.col("n01")).cast("double")
    chi2 = (
        (d - F.lit(1.0)) * (d - F.lit(1.0)) / tot
    )
    ok = (F.col("n10") + F.col("n01")) > 0
    return g.select(
        "n",
        "n_null",
        "n00",
        "n01",
        "n10",
        "n11",
        F.when(ok, chi2).alias("chi2"),
        F.when(ok, chi2 > F.lit(3.841459)).alias("significant"),
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 100,
    unit: int = 10**9,
) -> DataFrame:
    """Hill estimator of the power-law tail index of a positive
    column — "how heavy is the document-length / user-activity
    tail?", the extreme-value companion to the Zipf rank-frequency
    fit (Zipf fits the WHOLE vocabulary curve; Hill reads just the
    upper tail, where capacity planning and outlier budgets live):

        gamma = (1/k) * sum_{i=1..k} ln x_(i)  -  ln x_(k+1),
        alpha = 1 / gamma          (P(X > x) ~ x^-alpha)

    over the k+1 largest values x_(1) >= ... >= x_(k+1), ties broken
    by ``id_col`` so the selected set is deterministic (when the
    boundary value is tied, every tied row has the same ln — any
    representative yields the identical sum, and the estimator is
    well-defined regardless of which tied row is "the" (k+1)-th).

    Exactness: each ln is quantized to integer 1/``unit`` units
    BEFORE summing (house rule — float sums drift with aggregation
    order), so gamma = (qsum - (k+1)*qmin) / (k*unit) is a ratio of
    exact integers and the result is identical at any parallelism.

    Scale shape: the k+1 selection is a per-partition top-k
    (TakeOrderedAndProject — never a global sort), then ONE tiny
    aggregate over k+1 rows. Output: one row (k, n_tail, x_tail,
    gamma_hill, alpha); NULL statistics when fewer than k+1 positive
    rows exist or the top k+1 are all equal (gamma = 0)."""
    dec = "decimal(38,0)"
    u = F.lit(float(unit))
    top = (
        df.where(F.col(value_col) > 0)
        .select(
            F.col(value_col).cast("double").alias("__x"),
            F.col(id_col).alias("__id"),
        )
        .orderBy(F.desc("__x"), F.asc("__id"))
        .limit(int(k) + 1)
    )
    q = top.select(
        "__x",
        F.floor(F.log(F.col("__x")) * u).cast(dec).alias("__q"),
    )
    g = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        F.sum("__q").alias("__qsum"),
        F.min("__q").alias("__qmin"),
        F.min("__x").alias("__xmin"),
    )
    kk = F.lit(int(k)).cast(dec)
    gamma = (
        F.col("__qsum") - (kk + F.lit(1).cast(dec)) * F.col("__qmin")
    ).cast("double") / (F.lit(float(k)) * u)
    ok = (F.col("n_tail") == int(k) + 1) & (
        F.col("__qsum") > (kk + F.lit(1).cast(dec)) * F.col("__qmin")
    )
    return g.select(
        F.lit(int(k)).alias("k"),
        "n_tail",
        F.col("__xmin").alias("x_tail"),
        F.when(ok, gamma).alias("gamma_hill"),
        F.when(ok, F.lit(1.0) / gamma).alias("alpha"),
    )


def fisher_exact(
    df: DataFrame,
    a_col: str,
    b_col: str,
    max_support: int = 100_000,
) -> DataFrame:
    """Fisher's EXACT test of independence for two binary flags —
    the small-cell companion to chi2_independence (the chi-square
    approximation collapses exactly where curation questions get
    interesting: rare sources, rare languages, planted-PII slivers).
    Two-sided p = sum of hypergeometric table probabilities no more
    likely than the observed table, conditioned on both margins.

    NO factorials anywhere: the hypergeometric weights are built
    from the pmf RATIO recurrence

        w(k+1)/w(k) = (K - k)(n - k) / ((k + 1)(N - K - n + k + 1))

    walked across the support [max(0, K+n-N), min(K, n)] as a PREFIX
    SUM of per-step log-ratios — each ln is quantized to integer
    1e-12 units BEFORE the cumulative sum (house rule), so every
    log-weight is an exact BIGINT and the "as extreme as observed"
    comparison (lw <= lw_obs + qln(1 + 1e-7), the classical relative
    tolerance) is an integer compare, bit-identical at any
    parallelism. Weights are then exponentiated relative to the
    support maximum (never overflows), quantized to 1e-15 units and
    summed as integers; p is ONE division.

    Scale shape: one conditional-sum aggregation to the 2x2 cells,
    then arithmetic over a SUPPORT-SIZED row set (min margin + 1
    rows — the window is support-bounded, never corpus-bounded; for
    support > ``max_support`` the exact path abstains with NULL p
    and chi2_independence is the right tool anyway). Output: one row
    (n, n11, n10, n01, n00, support, odds_ratio, p_value,
    significant); odds_ratio NULL on a zero denominator, p NULL on
    abstention."""
    dec = "bigint"
    a = F.col(a_col).cast("int")
    b = F.col(b_col).cast("int")
    both = a.isNotNull() & b.isNotNull()

    def cell(av, bv):
        return F.sum(
            F.when(both & (a == av) & (b == bv), 1).otherwise(0)
        ).cast(dec)

    cells = df.agg(
        F.sum(F.when(both, 1).otherwise(0)).cast(dec).alias("n"),
        cell(1, 1).alias("n11"),
        cell(1, 0).alias("n10"),
        cell(0, 1).alias("n01"),
        cell(0, 0).alias("n00"),
    )
    cells = cells.select(
        "*",
        (F.col("n11") + F.col("n10")).alias("__K"),
        (F.col("n11") + F.col("n01")).alias("__m"),
    ).select(
        "*",
        F.greatest(
            F.lit(0).cast(dec),
            F.col("__K") + F.col("__m") - F.col("n"),
        ).alias("__lo"),
        F.least(F.col("__K"), F.col("__m")).alias("__hi"),
    )
    cells = cells.select(
        "*",
        (F.col("__hi") - F.col("__lo") + 1).alias("support"),
    ).localCheckpoint(eager=True)

    u = F.lit(1e12)

    def qln(x):
        return F.floor(F.log(x.cast("double")) * u).cast(dec)

    rows = cells.select(
        "n",
        "n11",
        "__K",
        "__m",
        "__lo",
        F.explode(
            F.when(
                F.col("support") <= int(max_support),
                F.sequence(F.col("__lo"), F.col("__hi")),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("k"),
    )
    K, m, n, k = (
        F.col("__K"),
        F.col("__m"),
        F.col("n"),
        F.col("k"),
    )
    term = F.when(k == F.col("__lo"), F.lit(0).cast(dec)).otherwise(
        qln(K - (k - 1))
        + qln(m - (k - 1))
        - qln(k)
        - qln(n - K - m + k)
    )
    w = (
        W.partitionBy("n")  # cells is ONE row; support-sized window
        .orderBy("k")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    rows = rows.select(
        "n11", "k", F.sum(term).over(w).alias("lw")
    )
    anchors = rows.agg(
        F.max("lw").alias("__lwmax"),
        F.max(F.when(F.col("k") == F.col("n11"), F.col("lw"))).alias(
            "__lwobs"
        ),
    )
    e = F.floor(
        F.exp(
            (F.col("lw") - F.col("__lwmax")).cast("double") / u
        )
        * F.lit(1e15)
    ).cast(dec)
    # qln(1 + 1e-7) = floor(ln(1+1e-7) * 1e12) = 99999
    tol = F.lit(99999).cast(dec)
    sums = (
        rows.crossJoin(F.broadcast(anchors))
        .agg(
            F.sum(e).alias("__tot"),
            F.sum(
                F.when(
                    F.col("lw") <= F.col("__lwobs") + tol, e
                ).otherwise(F.lit(0).cast(dec))
            ).alias("__ext"),
        )
    )
    orat = (F.col("n11") * F.col("n00")).cast("double") / (
        F.col("n10") * F.col("n01")
    ).cast("double")
    p = F.col("__ext").cast("double") / F.col("__tot").cast(
        "double"
    )
    return (
        cells.crossJoin(F.broadcast(sums))
        .select(
            "n",
            "n11",
            "n10",
            "n01",
            "n00",
            "support",
            F.when(
                (F.col("n10") * F.col("n01")) > 0, orat
            ).alias("odds_ratio"),
            p.alias("p_value"),
            (p < F.lit(0.05)).alias("significant"),
        )
    )


def brown_forsythe(
    df: DataFrame,
    value_col: str,
    group_col: str,
    unit: int = 10**9,
) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test — the missing member
    of the ANOVA family (weekday_anova asks "do the MEANS differ
    across bins?"; this asks "do the SPREADS differ across groups?",
    the prerequisite check every pooled-variance readout quietly
    assumes). It is Levene's test with MEDIAN centering (the robust,
    recommended variant): one-way ANOVA of the absolute deviations

        z_ij = |x_ij - med_g|,
        F = (SSB / (k - 1)) / (SSW / (N - k))

    Exactness, the house way: medians come from the per-group VALUE
    HISTOGRAM (cumulative window over distinct values — never a raw
    sort) as DOUBLED integers dmed = v(ceil(N/2)) + v(floor(N/2)+1)
    (lower + upper middle, so even-n averaging never leaves the
    integers), deviations dz = |2x - dmed| are exact BIGINTs (the
    factor 2 cancels inside F), per-group S_g = sum dz and
    Q_g = sum dz^2 are exact DECIMAL(38,0), and the one non-integer
    per-group term S_g^2 / n_g is quantized to integer 1/``unit``
    units BEFORE the cross-group sum (house rule — a float sum over
    groups would drift with partial-aggregation order). SSB is
    clamped at 0 (quantization can push an exactly-homogeneous SSB
    a hair negative). The verdict uses the large-df2 chi-square limit
    (k-1) F -> chi2(k-1) through Fisher's sqrt approximation
    z = sqrt(2 (k-1) F) - sqrt(2 (k-1) - 1), one-sided 5%
    (z > 1.6448536269514722) — the same closed-form route as the
    dispersion kernel, replayable by any SQL engine.

    Scale shape: one raw scan into the (group, value) histogram;
    everything after runs on distinct-value rows, then k group rows,
    then ONE row. Output: (n, k, f_stat, eta_sq, z, heterogeneous);
    f_stat NULL when k < 2, N = k, or SSW = 0."""
    dec = "decimal(38,0)"
    x = F.col(value_col).cast("bigint")
    rows = df.where(
        x.isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("g"), x.alias("x"))
    hist = (
        rows.groupBy("g", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # feeds the median window AND the deviation rollup
        .localCheckpoint(eager=True)
    )
    w = (
        W.partitionBy("g")
        .orderBy("x")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = hist.select(
        "g",
        "x",
        F.sum("c").over(w).alias("__cum"),
        (F.sum("c").over(w) - F.col("c")).alias("__prev"),
    )
    tot = hist.groupBy("g").agg(F.sum("c").alias("__ng"))
    ranks = tot.select(
        "g",
        "__ng",
        F.expr("(__ng + 1) DIV 2").alias("__rlo"),
        F.expr("__ng DIV 2 + 1").alias("__rhi"),
    )
    med = (
        cum.join(ranks, "g")
        .groupBy("g")
        .agg(
            (
                F.min(
                    F.when(
                        (F.col("__cum") >= F.col("__rlo"))
                        & (F.col("__prev") < F.col("__rlo")),
                        F.col("x"),
                    )
                )
                + F.min(
                    F.when(
                        (F.col("__cum") >= F.col("__rhi"))
                        & (F.col("__prev") < F.col("__rhi")),
                        F.col("x"),
                    )
                )
            ).alias("__dmed")
        )
    )
    dz = F.abs(
        F.lit(2).cast("bigint") * F.col("x") - F.col("__dmed")
    ).cast(dec)
    grp = (
        hist.join(med, "g")
        .groupBy("g")
        .agg(
            F.sum("c").cast(dec).alias("__ng"),
            F.sum(F.col("c").cast(dec) * dz).alias("__sg"),
            F.sum(F.col("c").cast(dec) * dz * dz).alias("__qg"),
        )
    )
    term = (F.col("__sg") * F.col("__sg")).cast("double") / F.col(
        "__ng"
    ).cast("double")
    g = grp.agg(
        F.sum("__ng").alias("__n"),
        F.sum("__sg").alias("__t"),
        F.sum("__qg").alias("__qq"),
        F.count(F.lit(1)).alias("__k"),
        F.sum(
            F.floor(term * F.lit(float(unit))).cast(dec)
        ).alias("__bu"),
    )
    u = F.lit(float(unit))
    n, k = F.col("__n").cast("double"), F.col("__k").cast("double")
    bterm = F.col("__bu").cast("double") / u
    ssb = F.greatest(
        bterm - (F.col("__t") * F.col("__t")).cast("double") / n,
        F.lit(0.0),
    )
    ssw = F.col("__qq").cast("double") - bterm
    valid = (
        (F.col("__k") >= 2) & (F.col("__n") > F.col("__k")) & (ssw > 0)
    )
    fstat = (ssb / (k - F.lit(1.0))) / (ssw / (n - k))
    z = F.sqrt(F.lit(2.0) * (k - F.lit(1.0)) * fstat) - F.sqrt(
        F.lit(2.0) * (k - F.lit(1.0)) - F.lit(1.0)
    )
    return g.select(
        F.col("__n").cast("bigint").alias("n"),
        F.col("__k").cast("bigint").alias("k"),
        F.when(valid, fstat).alias("f_stat"),
        F.when(valid, ssb / (ssb + ssw)).alias("eta_sq"),
        F.when(valid, z).alias("z"),
        F.when(valid, z > F.lit(1.6448536269514722)).alias(
            "heterogeneous"
        ),
    )


def jonckheere_terpstra(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Jonckheere-Terpstra test for a MONOTONE trend of a value
    across ORDERED groups — the ordered-alternative upgrade of
    Kruskal-Wallis (KW asks "do the groups differ at all?"; JT asks
    "do they drift UP (or down) the group order?", which is the
    actual curation question for length bins, date buckets, version
    ordinals). The statistic is the sum of pairwise Mann-Whitney
    counts over ordered group pairs,

        JT = sum_{a<b} #{x in a, y in b : x < y} + ties/2,
        E  = (N^2 - sum_i n_i^2) / 4,
        z  = (JT - E) / sqrt(var)    (tie-corrected var, below)

    Exactness: JT is computed DOUBLED (2*JT = sum over joined
    histogram cells of c_a c_b (2[v_a < v_b] + [v_a = v_b])) so ties
    never leave the integers — the join runs over (group, value)
    HISTOGRAM cells with a < b on the group order (the kendall_tau
    cell-self-join shape: bounded by distinct-value counts, never
    row-sized). E is computed QUADRUPLED (4E = N^2 - sum n_i^2,
    exact DECIMAL). The tie-corrected variance (Lehmann) is

        var = [N(N-1)(2N+5) - sum_i n_i(n_i-1)(2n_i+5)
                            - sum_j t_j(t_j-1)(2t_j+5)] / 72
            + [sum_i n_i(n_i-1)(n_i-2)][sum_j t_j(t_j-1)(t_j-2)]
              / (36 N(N-1)(N-2))
            + [sum_i n_i(n_i-1)][sum_j t_j(t_j-1)] / (8 N(N-1))

    with every bracketed sum an exact integer aggregate (n_i = group
    sizes, t_j = global tie counts off the value histogram); var and
    z = (2*(2JT) - 4E) / (4 sqrt(var)) are one float tree each,
    identical on any SQL engine. Two-sided 5% verdict with the trend
    direction when significant.

    Scale shape: one raw scan into the (group, value) histogram;
    the pair join is histogram-cell-sized; everything else is k
    group rows + distinct-value rows. Output: one row (n, k, jt2,
    z, significant, direction); z NULL when k < 2, N < 3 or
    var = 0."""
    dec = "decimal(38,0)"
    rows = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("bigint").alias("v"),
    )
    hist = (
        rows.groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast(dec).alias("c"))
        # feeds the pair join (twice), group sizes and tie counts
        .localCheckpoint(eager=True)
    )
    a = hist.select(
        F.col("g").alias("ga"),
        F.col("v").alias("va"),
        F.col("c").alias("ca"),
    )
    b = hist.select(
        F.col("g").alias("gb"),
        F.col("v").alias("vb"),
        F.col("c").alias("cb"),
    )
    w = F.col("ca") * F.col("cb") * F.when(
        F.col("va") < F.col("vb"), F.lit(2)
    ).when(F.col("va") == F.col("vb"), F.lit(1)).otherwise(
        F.lit(0)
    ).cast(dec)
    jt = (
        a.join(b, F.col("ga") < F.col("gb"))
        .agg(F.coalesce(F.sum(w), F.lit(0).cast(dec)).alias("jt2"))
    )
    ni = hist.groupBy("g").agg(F.sum("c").alias("n"))
    one, two, five = (F.lit(x).cast(dec) for x in (1, 2, 5))

    def _sums(t, col):
        n = F.col(col)
        return t.agg(
            F.sum(n).alias("N"),
            F.count(F.lit(1)).alias("k"),
            F.sum(n * n).alias("s2"),
            F.sum(n * (n - one) * (two * n + five)).alias("sa"),
            F.sum(n * (n - one) * (n - two)).alias("sb"),
            F.sum(n * (n - one)).alias("sc"),
        )
    gsum = _sums(ni, "n")
    tj = hist.groupBy("v").agg(F.sum("c").alias("t"))
    tsum = _sums(tj, "t").select(
        F.col("sa").alias("ta"),
        F.col("sb").alias("tb"),
        F.col("sc").alias("tc"),
    )
    g = jt.crossJoin(F.broadcast(gsum)).crossJoin(
        F.broadcast(tsum)
    )
    N = F.col("N")
    var = (
        (
            N * (N - one) * (two * N + five)
            - F.col("sa")
            - F.col("ta")
        ).cast("double")
        / F.lit(72.0)
        + F.col("sb").cast("double")
        * F.col("tb").cast("double")
        / (
            F.lit(36.0)
            * (N * (N - one) * (N - two)).cast("double")
        )
        + F.col("sc").cast("double")
        * F.col("tc").cast("double")
        / (F.lit(8.0) * (N * (N - one)).cast("double"))
    )
    d = (two * F.col("jt2") - (N * N - F.col("s2"))).cast("double")
    z = d / (F.lit(4.0) * F.sqrt(var))
    ok = (F.col("k") >= 2) & (N >= F.lit(3).cast(dec)) & (var > 0)
    return g.select(
        N.cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.col("jt2").cast("bigint").alias("jt2"),
        F.when(ok, z).alias("z"),
        F.when(ok, F.abs(z) > F.lit(1.959963984540054)).alias(
            "significant"
        ),
        F.when(
            ok & (F.abs(z) > F.lit(1.959963984540054)),
            F.when(z > 0, F.lit("increasing")).otherwise(
                F.lit("decreasing")
            ),
        ).alias("direction"),
    )


def benford_audit(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    unit: int = 10**9,
) -> DataFrame:
    """Benford first-digit audit per slice — the classic fabricated-
    or-truncated-data screen for positive count/amount columns: the
    observed first-digit histogram is chi-square-tested against
    Benford's law p_d = log10(1 + 1/d), d = 1..9.

    Exactness: the first digit is taken off the DECIMAL STRING of
    the integer value (no float log10 near power-of-ten boundaries),
    observed counts are exact BIGINTs on an exploded 9-digit
    dimension (absent digits count 0 — they still pay (0-e)^2/e),
    each digit's (o - e)^2 / e term is quantized to integer
    1/``unit`` units BEFORE the 9-term sum (house rule), and the
    p-value uses the df=8 closed form

        p = exp(-x/2) (1 + h + h^2/2 + h^3/6),  h = x/2

    (chi-square with even df needs no incomplete gamma) — one float
    tree, replayable by any SQL engine. Rows with NULL or values
    < 1 are dropped (Benford is undefined there); n counts used
    rows.

    Scale shape: one raw scan into (group, digit) counts; the
    dimension explode and all arithmetic run on 9 x |groups| rows.
    Output: (group?, n, chi2, p_value, deviates); NULL statistics
    when n = 0."""
    dec = "decimal(38,0)"
    keys = [group_col] if group_col else []
    v = F.col(value_col).cast("bigint")
    rows = df.where(v.isNotNull() & (v >= 1)).select(
        *keys,
        F.substring(v.cast("string"), 1, 1).cast("int").alias("d"),
    )
    obs = rows.groupBy(*keys, "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    tot = obs.groupBy(*keys).agg(F.sum("o").alias("n"))
    dim = tot.select(
        *keys,
        "n",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, 10)])
        ).alias("d"),
    )
    full = dim.join(obs, keys + ["d"], "left").select(
        *keys,
        "n",
        "d",
        F.coalesce(F.col("o"), F.lit(0)).cast("bigint").alias("o"),
    )
    nd = F.col("n").cast("double")
    dd = F.col("d").cast("double")
    e = nd * (
        F.log(F.lit(1.0) + F.lit(1.0) / dd) / F.log(F.lit(10.0))
    )
    diff = F.col("o").cast("double") - e
    term = diff * diff / e
    g = full.groupBy(*keys).agg(
        F.max("n").alias("n"),
        F.sum(
            F.floor(term * F.lit(float(unit))).cast(dec)
        ).alias("__cu"),
    )
    chi2 = F.col("__cu").cast("double") / F.lit(float(unit))
    h = chi2 / F.lit(2.0)
    p = F.exp(-h) * (
        F.lit(1.0)
        + h
        + h * h / F.lit(2.0)
        + h * h * h / F.lit(6.0)
    )
    ok = F.col("n") > 0
    return g.select(
        *keys,
        F.col("n").cast("bigint").alias("n"),
        F.when(ok, chi2).alias("chi2"),
        F.when(ok, p).alias("p_value"),
        F.when(ok, p < F.lit(0.05)).alias("deviates"),
    )


def kuiper_two_sample(df: DataFrame, value_col: str, group_col: str
                      ) -> DataFrame:
    """Two-sample Kuiper statistic V = D+ + D- — the
    rotation-invariant member of the drift trio's family: where KS's
    sup gap under-weights the distribution TAILS, Kuiper weights all
    positions equally (it is the circular-data / tail-sensitive
    variant), catching shifts that push one tail up and the other
    down and largely cancel in a single sup.

        D+ = sup_x (F_1 - F_0),   D- = sup_x (F_0 - F_1),
        V  = D+ + D-

    evaluated in one aggregate over :func:`_value_cdf`, like
    :func:`ks_two_sample`: the SIGNED exact integer cross-product
    s(v) = cum_1 * n_0 - cum_0 * n_1 makes D+ = max s / (n_1 n_0)
    and D- = -min s / (n_1 n_0) (both attained, the last value pins
    s = 0 so neither is negative), order-independent at any
    parallelism. The p-value is the standard asymptotic series with
    Stephens' finite-n factor,

        lam = V (sqrt(ne) + 0.155 + 0.24 / sqrt(ne)),
        ne = n_1 n_0 / (n_1 + n_0),
        p  = 2 sum_{j=1..3} (4 j^2 lam^2 - 1) exp(-2 j^2 lam^2)

    (series truncated at j = 3 — terms decay like exp(-2j^2); the
    truncation error is far below 6-decimal reporting for any lam
    where the verdict is in play; p clamped to [0, 1], and for
    lam < 0.4 — where the asymptotic series is invalid and the true
    p is 1 to 7+ digits — p is pinned to 1, the standard Numerical
    Recipes convention) — one float tree, replayable by any SQL
    engine.

    Rows with NULL value or group are dropped. Output: one row
    (n_1, n_0, d_plus, d_minus, v, p_value, significant); NULL
    statistics when either group is empty."""
    s = _cdf_gap()
    agg = _value_cdf(
        _value_hist(df, F.col(value_col), group_col)
    ).agg(
        F.max("n1").alias("__fa"),
        F.max("n0").alias("__fb"),
        F.max(s).alias("__smax"),
        F.min(s).alias("__smin"),
    )
    na, nb = F.col("__fa"), F.col("__fb")
    prod = (na * nb).cast("double")
    dp = F.col("__smax").cast("double") / prod
    dm = -F.col("__smin").cast("double") / prod
    v = dp + dm
    ne = prod / (na + nb).cast("double")
    lam = v * (
        F.sqrt(ne) + F.lit(0.155) + F.lit(0.24) / F.sqrt(ne)
    )
    l2 = lam * lam

    def t(j):
        jj = F.lit(float(j * j))
        return (
            F.lit(4.0) * jj * l2 - F.lit(1.0)
        ) * F.exp(F.lit(-2.0) * jj * l2)

    p = F.when(lam < F.lit(0.4), F.lit(1.0)).otherwise(
        F.least(
            F.greatest(
                F.lit(2.0) * (t(1) + t(2) + t(3)), F.lit(0.0)
            ),
            F.lit(1.0),
        )
    )
    ok = (na > 0) & (nb > 0)
    return agg.select(
        na.cast("bigint").alias("n_1"),
        nb.cast("bigint").alias("n_0"),
        F.when(ok, dp).alias("d_plus"),
        F.when(ok, dm).alias("d_minus"),
        F.when(ok, v).alias("v"),
        F.when(ok, p).alias("p_value"),
        F.when(ok, p < F.lit(0.05)).alias("significant"),
    )


def agreement_stats(df: DataFrame, a_col: str, b_col: str
                    ) -> DataFrame:
    """Numeric agreement between two integer-valued columns — the
    "do two feature pipelines produce the SAME number?" readout that
    correlation alone cannot give (Pearson is blind to scale and
    shift; a pipeline that doubles every value still gets r = 1):

    * Lin's concordance correlation coefficient
        ccc = 2 cov / (var_a + var_b + (mean_a - mean_b)^2)
      and the bias factor C_b = ccc / r (how much of the
      disagreement is pure scale/shift vs noise);
    * Bland-Altman: mean difference and the 1.96-sd limits of
      agreement of d = a - b.

    Exactness: with exact DECIMAL sums (Sa, Sb, Saa, Sbb, Sab), ccc
    collapses to ONE integer ratio

        ccc = 2 (n Sab - Sa Sb)
              / (n Saa - Sa^2 + n Sbb - Sb^2 + (Sa - Sb)^2)

    (the n^2 normalizations cancel), Pearson to the usual integer
    cross-moment ratio, and the Bland-Altman moments derive from
    the same sums (Sd = Sa - Sb, Sdd = Saa - 2 Sab + Sbb) — every
    numerator exact and order-independent, one float tree at the
    end, replayable by any SQL engine.

    Scale shape: ONE aggregation over the rows; arithmetic on one
    row. Output: (n, ccc, pearson_r, bias_c, mean_diff, sd_diff,
    loa_lo, loa_hi); ccc/r NULL when either variance is 0, sd/loa
    NULL when n < 2."""
    dec = "decimal(38,0)"
    a = F.col(a_col).cast(dec)
    b = F.col(b_col).cast(dec)
    both = (
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    )
    g = df.where(both).agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum(a).alias("__sa"),
        F.sum(b).alias("__sb"),
        F.sum(a * a).alias("__saa"),
        F.sum(b * b).alias("__sbb"),
        F.sum(a * b).alias("__sab"),
    )
    n = F.col("__n")
    sa, sb = F.col("__sa"), F.col("__sb")
    saa, sbb, sab = F.col("__saa"), F.col("__sbb"), F.col("__sab")
    cov = n * sab - sa * sb
    va = n * saa - sa * sa
    vb = n * sbb - sb * sb
    two = F.lit(2).cast(dec)
    ccc = (two * cov).cast("double") / (
        va + vb + (sa - sb) * (sa - sb)
    ).cast("double")
    r = cov.cast("double") / (
        F.sqrt(va.cast("double")) * F.sqrt(vb.cast("double"))
    )
    sd_ = sa - sb
    sdd = saa - two * sab + sbb
    nd = n.cast("double")
    mean_d = sd_.cast("double") / nd
    sd_diff = F.sqrt(
        (n * sdd - sd_ * sd_).cast("double")
        / (nd * (nd - F.lit(1.0)))
    )
    okv = (va > 0) & (vb > 0)
    okn = n >= F.lit(2).cast(dec)
    okd = okn & ((n * sdd - sd_ * sd_) >= 0)
    loa_lo = mean_d - F.lit(1.96) * sd_diff
    loa_hi = mean_d + F.lit(1.96) * sd_diff
    return g.select(
        n.cast("bigint").alias("n"),
        F.when(okv & okn, ccc).alias("ccc"),
        F.when(okv & okn, r).alias("pearson_r"),
        F.when(okv & okn & (cov != 0), ccc / r).alias("bias_c"),
        F.when(n > 0, mean_d).alias("mean_diff"),
        F.when(okd, sd_diff).alias("sd_diff"),
        F.when(okd, loa_lo).alias("loa_lo"),
        F.when(okd, loa_hi).alias("loa_hi"),
    )


def rbo_overlap(
    df: DataFrame,
    item_col: str,
    score_a_col: str,
    score_b_col: str,
    depth: int = 100,
    p: float = 0.9,
    unit: int = 10**15,
) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the top-k
    rankings induced by two score columns — the RANKING-DRIFT
    readout set-overlap cannot give (vocab_overlap says "same
    tokens"; RBO says "same tokens in the same ORDER, weighted
    toward the top, where ranking changes actually matter"):

        RBO_ext = (X_D / D) p^D
                  + ((1 - p) / p) sum_{d=1..D} (X_d / d) p^d

    with X_d the overlap of the two depth-d prefixes and
    D = min(depth, |A|, |B|). Rankings are deterministic:
    (score DESC, item ASC) tiebreak, each side over its non-NULL
    scores, via orderBy().limit(depth) (Spark plans
    TakeOrderedAndProject — never a global sort) and a row_number
    over the <= depth surviving rows.

    Exactness: every X_d is an exact BIGINT off the cumulative
    histogram of m = max(rank_a, rank_b); per-depth terms
    (X_d / d) p^d are quantized to integer 1/``unit`` units BEFORE
    the depth sum (house rule); p^d is computed as exp(d ln p) in
    BOTH engines (the empirically bit-stable primitive pair — pow
    is avoided by design). One float tree at the end.

    Scale shape: two top-k selections (depth-bounded), then all
    arithmetic on <= depth-sized tables. Input score tables are
    typically vocabulary-sized (document the bound at the call
    site). Output: one row (n_a, n_b, depth_used, overlap,
    agreement, rbo); NULL when either ranking is empty."""
    dec = "decimal(38,0)"
    it = F.col(item_col)

    def topk(col):
        t = (
            df.where(F.col(col).isNotNull())
            .select(it.alias("__i"), F.col(col).alias("__s"))
            .orderBy(F.col("__s").desc(), F.col("__i").asc())
            .limit(int(depth))
        )
        w = W.orderBy(F.col("__s").desc(), F.col("__i").asc())
        return t.select(
            "__i", F.row_number().over(w).alias("__r")
        )

    ta = topk(score_a_col).localCheckpoint(eager=True)
    tb = topk(score_b_col).localCheckpoint(eager=True)
    na = ta.agg(F.coalesce(F.max("__r"), F.lit(0)).alias("__na"))
    nb = tb.agg(F.coalesce(F.max("__r"), F.lit(0)).alias("__nb"))
    dd = (
        na.crossJoin(F.broadcast(nb))
        .select(
            "__na",
            "__nb",
            F.least(
                F.lit(int(depth)).cast("int"),
                F.col("__na"),
                F.col("__nb"),
            ).alias("__d"),
        )
        .localCheckpoint(eager=True)
    )
    j = (
        ta.join(tb.withColumnRenamed("__r", "__rb"), "__i")
        .crossJoin(F.broadcast(dd))
        .select(
            F.greatest(F.col("__r"), F.col("__rb")).alias("__m"),
            "__d",
        )
        .where(F.col("__m") <= F.col("__d"))
    )
    hist = j.groupBy("__m").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    dims = dd.where(F.col("__d") >= 1).select(
        F.explode(
            F.sequence(F.lit(1), F.col("__d"))
        ).alias("__dep"),
        "__d",
    )
    xd = (
        dims.join(hist, F.col("__m") <= F.col("__dep"), "left")
        .groupBy("__dep", "__d")
        .agg(
            F.coalesce(F.sum("__c"), F.lit(0))
            .cast("bigint")
            .alias("__x")
        )
    )
    lnp = F.log(F.lit(float(p)))
    pd_ = F.exp(F.col("__dep").cast("double") * lnp)
    term = F.floor(
        pd_
        * F.col("__x").cast("double")
        / F.col("__dep").cast("double")
        * F.lit(float(unit))
    ).cast(dec)
    agg = xd.groupBy("__d").agg(
        F.sum(term).alias("__su"),
        F.max(
            F.when(F.col("__dep") == F.col("__d"), F.col("__x"))
        ).alias("__xd"),
    )
    u = F.lit(float(unit))
    dD = F.col("__d").cast("double")
    tail = F.exp(dD * lnp) * (
        F.col("__xd").cast("double") / dD
    )
    head = (
        F.lit((1.0 - float(p)) / float(p))
        * (F.col("__su").cast("double") / u)
    )
    out = dd.join(agg, "__d", "left").select(
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        F.col("__d").cast("bigint").alias("depth_used"),
        F.col("__xd").alias("overlap"),
        F.when(
            F.col("__d") >= 1,
            F.col("__xd").cast("double") / dD,
        ).alias("agreement"),
        F.when(F.col("__d") >= 1, head + tail).alias("rbo"),
    )
    return out


def youden_threshold(df: DataFrame, score_col: str, label_col: str
                     ) -> DataFrame:
    """Optimal decision threshold by Youden's J = TPR - FPR — the
    operating-point companion to :func:`auc_exact` (AUC grades the
    whole ranking; a pipeline that FILTERS needs one cut, and the
    J-maximizing cut is the standard choice when both error types
    weigh equally). Rule: predict positive when score >= t,
    evaluated at every distinct score value of :func:`_value_cdf`:

        J(t) = TP_t / P - FP_t / N
             = (TP_t * N - FP_t * P) / (P * N)

    with TP_t = P - ca and FP_t = N - cb (the rows at or above t).
    The argmax runs over the exact integer numerator
    TP_t * N - FP_t * P (DECIMAL(38,0), order-independent), ties ->
    the SMALLEST threshold (the most inclusive optimal cut,
    deterministic), taken in the same aggregate; TPR / FPR / J /
    accuracy at the chosen cut are single float divisions of exact
    integers.

    Scale shape: one aggregate over the distinct-score CDF (the
    auc_exact shape). Rows with NULL score or label are dropped.
    Output: one row (n_pos, n_neg, threshold, j, tpr, fpr,
    accuracy); every column but n_pos / n_neg is NULL when either
    class is empty, and all are NULL on an empty input."""
    tp = F.col("n1") - F.col("ca")
    fp = F.col("n0") - F.col("cb")
    jn = tp * F.col("n0") - fp * F.col("n1")
    at = _value_cdf(
        _value_hist(df, F.col(score_col), label_col)
    ).agg(
        F.max("n1").alias("__totp"),
        F.max("n0").alias("__totn"),
        F.max(jn).alias("__jbest"),
        F.min_by(
            F.struct("v", tp.alias("tp"), fp.alias("fp")),
            F.struct(-jn, F.col("v")),
        ).alias("__at"),
    )
    P, N = F.col("__totp"), F.col("__totn")
    tp, fp = F.col("__at.tp"), F.col("__at.fp")
    pn = (P * N).cast("double")
    ok = (P > 0) & (N > 0)
    acc = (tp + (N - fp)).cast("double") / (P + N).cast("double")
    return at.select(
        P.cast("bigint").alias("n_pos"),
        N.cast("bigint").alias("n_neg"),
        F.when(ok, F.col("__at.v")).alias("threshold"),
        F.when(ok, F.col("__jbest").cast("double") / pn).alias("j"),
        F.when(ok, tp.cast("double") / P.cast("double")).alias("tpr"),
        F.when(ok, fp.cast("double") / N.cast("double")).alias("fpr"),
        F.when(ok, acc).alias("accuracy"),
    )


def weighted_kappa(df: DataFrame, a_col: str, b_col: str
                   ) -> DataFrame:
    """Weighted Cohen's kappa for ORDINAL integer categories — the
    agreement readout :func:`cohens_kappa` cannot give when being
    off by one bin is better than being off by five (nominal kappa
    charges both the same). Both standard weightings at once:

        kappa_w = 1 - sum_ij w_ij O_ij / sum_ij w_ij E_ij,
        w_ij = |i - j|        (linear)
        w_ij = (i - j)^2      (quadratic; equals an ICC)

    with E_ij = row_i col_j / N the chance table. Exactness: the
    observed penalty sum and the marginal-product penalty sum are
    exact DECIMAL integers (E's 1/N is deferred:
    kappa = 1 - N * num / den), so each kappa is ONE float division
    of two exact integers — order-independent, replayable by any
    SQL engine.

    Scale shape: one groupBy(a, b) confusion aggregation; penalties
    on the category-squared-sized cell table; the chance side is a
    |cats| x |cats| marginal cross join. Rows with NULL in either
    column are dropped. Output: one row (n, kappa_linear,
    kappa_quadratic); a kappa is NULL when its chance penalty is 0
    (either rater constant)."""
    dec = "decimal(38,0)"
    a = F.col(a_col).cast("bigint")
    b = F.col(b_col).cast("bigint")
    cells = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).cast(dec).alias("__o"))
        .localCheckpoint(eager=True)  # feeds marginals + penalties
    )
    dl = F.abs(F.col("__a") - F.col("__b")).cast(dec)
    dq = (
        (F.col("__a") - F.col("__b"))
        * (F.col("__a") - F.col("__b"))
    ).cast(dec)
    obs = cells.agg(
        F.sum("__o").alias("__n"),
        F.sum(dl * F.col("__o")).alias("__nl"),
        F.sum(dq * F.col("__o")).alias("__nq"),
    )
    ra = cells.groupBy("__a").agg(F.sum("__o").alias("__r"))
    cb = cells.groupBy("__b").agg(F.sum("__o").alias("__c"))
    den = ra.crossJoin(cb).agg(
        F.sum(dl * F.col("__r") * F.col("__c")).alias("__dl"),
        F.sum(dq * F.col("__r") * F.col("__c")).alias("__dq"),
    )
    g = obs.crossJoin(F.broadcast(den))
    n = F.col("__n")

    def kap(num, d):
        return F.when(
            F.col(d) > 0,
            F.lit(1.0)
            - (n * F.col(num)).cast("double")
            / F.col(d).cast("double"),
        )

    return g.select(
        n.cast("bigint").alias("n"),
        kap("__nl", "__dl").alias("kappa_linear"),
        kap("__nq", "__dq").alias("kappa_quadratic"),
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    unit: int = 10**15,
) -> DataFrame:
    """Exact average precision (area under the precision-recall
    curve, step interpolation — the scikit-learn
    average_precision_score convention) — the imbalanced-class
    companion to :func:`auc_exact`: ROC-AUC stays near 1 when
    positives are rare and the head of the ranking is junk; AP
    collapses, which is what a filtering pipeline needs to see.

        AP = sum_k (R_k - R_{k-1}) P_k

    over DISTINCT score values descending (ties enter as one block
    — the tie-correct form), with P_k = TP_k / (TP_k + FP_k),
    R_k = TP_k / P. Every TP/FP is an exact integer off
    :func:`_value_cdf` (the descending count TP_k = P - ca); each
    threshold's term (dTP_k / P) * P_k is quantized to integer
    1/``unit`` units BEFORE the cross-threshold sum (house rule), so
    the result is order-independent and SQL-replayable.

    Scale shape: one aggregate over the distinct-score CDF. Rows with
    NULL score or label are dropped. Output: one row (n_pos, n_neg,
    ap, baseline) — baseline = P/(P+N), the AP of a random ranking;
    ap NULL when there are no positives."""
    tp = F.col("n1") - F.col("ca")
    fp = F.col("n0") - F.col("cb")
    u = F.lit(float(unit))
    term = (
        F.col("a").cast("double") / F.col("n1").cast("double")
    ) * (tp.cast("double") / (tp + fp).cast("double"))
    agg = _value_cdf(
        _value_hist(df, F.col(score_col), label_col)
    ).agg(
        F.max("n1").alias("__P"),
        F.max("n0").alias("__N"),
        F.sum(
            F.when(F.col("a") > 0, F.floor(term * u).cast(_DEC))
        ).alias("__su"),
    )
    ok = F.col("__P") > 0
    return agg.select(
        F.col("__P").cast("bigint").alias("n_pos"),
        F.col("__N").cast("bigint").alias("n_neg"),
        F.when(
            ok, F.col("__su").cast("double") / u
        ).alias("ap"),
        F.when(
            ok,
            F.col("__P").cast("double")
            / (F.col("__P") + F.col("__N")).cast("double"),
        ).alias("baseline"),
    )


def brier_decomposition(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
    unit: int = 10**9,
    term_unit: int = 10**15,
) -> DataFrame:
    """Brier score with the Murphy decomposition — the probability-
    quality readout calibration_bins only tables: REL (calibration
    error mass), RES (how much the forecast separates the classes),
    UNC (irreducible base-rate variance), with BS ~= REL - RES + UNC
    (exact over bin-averaged forecasts; the raw BS additionally
    carries the within-bin variance, reported as the residual).

    Exactness: probabilities are quantized ONCE to integer
    1/``unit`` units (floor) — everything downstream, including the
    raw Brier score

        BS = (sum qp^2 - 2 U sum_{y=1} qp + U^2 sum y) / (n U^2),

    is exact integer arithmetic on that grid. Bins are
    qp * B DIV U (clamped to B-1 — pure integer bin rule); per-bin
    REL/RES terms are single float expressions of exact integers
    quantized to 1/``term_unit`` BEFORE the cross-bin sums (house
    rule). Replayable by any SQL engine.

    Scale shape: one aggregation to B bin rows (+ one global),
    arithmetic on the bin table. Rows with NULL prob/label or prob
    outside [0, 1] are dropped. Output: one row (n, brier,
    reliability, resolution, uncertainty, within_bin_var)."""
    dec = "decimal(38,0)"
    u = F.lit(float(unit))
    ui = F.lit(int(unit)).cast(dec)
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("int")
    rows = df.where(
        p.isNotNull() & y.isNotNull() & (p >= 0) & (p <= 1)
    ).select(
        F.floor(p * u).cast(dec).alias("__qp"),
        y.cast(dec).alias("__y"),
    )
    b = F.lit(int(n_bins)).cast(dec)
    binned = rows.select(
        "__qp",
        "__y",
        F.least(
            F.floor(
                (F.col("__qp") * b).cast("double")
                / F.lit(float(unit))
            ).cast(dec),
            b - F.lit(1).cast(dec),
        ).alias("__b"),
    )
    per_bin = binned.groupBy("__b").agg(
        F.count(F.lit(1)).cast(dec).alias("__nb"),
        F.sum("__qp").alias("__sp"),
        F.sum(F.col("__qp") * F.col("__qp")).alias("__spp"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__qp") * F.col("__y")).alias("__spy"),
    )
    tot = per_bin.agg(
        F.sum("__nb").alias("__n"),
        F.sum("__sp").alias("__tsp"),
        F.sum("__spp").alias("__tspp"),
        F.sum("__sy").alias("__tsy"),
        F.sum("__spy").alias("__tspy"),
    ).localCheckpoint(eager=True)
    tu = F.lit(float(term_unit))
    j = per_bin.crossJoin(F.broadcast(tot))
    drel = (F.col("__sp") - ui * F.col("__sy")).cast("double") / u
    rel_t = F.floor(
        drel * drel / F.col("__nb").cast("double") * tu
    ).cast(dec)
    dres = (
        F.col("__n") * F.col("__sy") - F.col("__nb") * F.col("__tsy")
    ).cast("double") / F.col("__n").cast("double")
    res_t = F.floor(
        dres * dres / F.col("__nb").cast("double") * tu
    ).cast(dec)
    sums = j.agg(
        F.sum(rel_t).alias("__rel_u"),
        F.sum(res_t).alias("__res_u"),
    )
    g = tot.crossJoin(F.broadcast(sums))
    n = F.col("__n")
    nd = n.cast("double")
    bs = (
        F.col("__tspp")
        - F.lit(2).cast(dec) * ui * F.col("__tspy")
        + ui * ui * F.col("__tsy")
    ).cast("double") / (nd * u * u)
    rel = F.col("__rel_u").cast("double") / tu / nd
    res = F.col("__res_u").cast("double") / tu / nd
    unc = (F.col("__tsy") * (n - F.col("__tsy"))).cast(
        "double"
    ) / (nd * nd)
    ok = n > 0
    return g.select(
        n.cast("bigint").alias("n"),
        F.when(ok, bs).alias("brier"),
        F.when(ok, rel).alias("reliability"),
        F.when(ok, res).alias("resolution"),
        F.when(ok, unc).alias("uncertainty"),
        F.when(ok, bs - (rel - res + unc)).alias(
            "within_bin_var"
        ),
    )


def cochran_q(
    df: DataFrame,
    flag_cols: list[str],
) -> DataFrame:
    """Cochran's Q test for k RELATED binary filters on the same
    rows — the k-filter extension of :func:`mcnemar_test` (McNemar
    compares two filters; curation pipelines run many, and "do
    these k rules pass different fractions of the same corpus?" is
    the calibration question before combining them):

        Q = (k - 1) (k sum_j C_j^2 - N^2) / (k N - sum_i R_i^2)

    with C_j the per-filter pass totals, R_i the per-row pass
    counts, N total passes. Every sufficient statistic is an exact
    DECIMAL integer from ONE row-level aggregation (sum R_i^2 is
    sum over rows of the squared flag sum — no per-filter shuffle),
    so Q is one float division. p uses the df = k-1 chi-square
    closed form for THREE filters (df = 2: p = exp(-Q/2)); for
    other k the even-df series applies upstream — this kernel
    requires exactly 3 flags and abstains otherwise by contract
    (assert), keeping the p exact and SQL-replayable.

    Rows with any NULL flag are dropped (complete-case, the
    classical convention). Output: one row (n, c1, c2, c3, q,
    p_value, significant); NULL statistics when the denominator is
    0 (every row passes all or none)."""
    assert len(flag_cols) == 3, "cochran_q: exactly 3 flags"
    dec = "decimal(38,0)"
    fs = [F.col(c).cast("int") for c in flag_cols]
    ok_row = fs[0].isNotNull() & fs[1].isNotNull() & fs[2].isNotNull()
    r = (fs[0] + fs[1] + fs[2]).cast(dec)
    g = df.where(ok_row).agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        *[
            F.sum(fs[i]).cast(dec).alias(f"__c{i + 1}")
            for i in range(3)
        ],
        F.sum(r).alias("__sr"),
        F.sum(r * r).alias("__sr2"),
    )
    k = F.lit(3).cast(dec)
    c2sum = (
        F.col("__c1") * F.col("__c1")
        + F.col("__c2") * F.col("__c2")
        + F.col("__c3") * F.col("__c3")
    )
    num = (k - F.lit(1).cast(dec)) * (
        k * c2sum - F.col("__sr") * F.col("__sr")
    )
    den = k * F.col("__sr") - F.col("__sr2")
    q = num.cast("double") / den.cast("double")
    p = F.exp(-q / F.lit(2.0))
    ok = den > 0
    return g.select(
        F.col("__n").cast("bigint").alias("n"),
        F.col("__c1").cast("bigint").alias("c1"),
        F.col("__c2").cast("bigint").alias("c2"),
        F.col("__c3").cast("bigint").alias("c3"),
        F.when(ok, q).alias("q"),
        F.when(ok, p).alias("p_value"),
        F.when(ok, p < F.lit(0.05)).alias("significant"),
    )


def rrf_fuse(
    df: DataFrame,
    item_col: str,
    score_a_col: str,
    score_b_col: str,
    k: int = 60,
    depth: int = 100,
    out_k: int = 20,
    unit: int = 10**15,
) -> DataFrame:
    """Reciprocal rank fusion of two rankings (Cormack et al. 2009
    — the standard zero-tuning way to combine heterogeneous
    retrieval/scoring signals):

        rrf(item) = sum_lists 1 / (k + rank_list(item))

    over each list's top-``depth`` (missing from a list contributes
    0). Rankings are deterministic ((score DESC, item ASC),
    TakeOrderedAndProject — the rbo_overlap contract). PURE INTEGER
    throughout: each reciprocal is unit DIV (k + r) (exact BIGINT
    floor division), so the fused score is an exact integer sum and
    the output ordering (score DESC, item ASC) is an integer
    compare — bit-identical at any parallelism, no floats anywhere
    until the reported rrf_score division.

    Output: top ``out_k`` rows (rank, item, rrf_score, rank_a,
    rank_b) — rank_a/rank_b NULL when the item missed that list."""
    dec = "decimal(38,0)"
    it = F.col(item_col)

    def topk(col, rname):
        t = (
            df.where(F.col(col).isNotNull())
            .select(it.alias("__i"), F.col(col).alias("__s"))
            .orderBy(F.col("__s").desc(), F.col("__i").asc())
            .limit(int(depth))
        )
        w = W.orderBy(F.col("__s").desc(), F.col("__i").asc())
        return t.select(
            "__i", F.row_number().over(w).alias(rname)
        )

    ta = topk(score_a_col, "rank_a")
    tb = topk(score_b_col, "rank_b")
    fused = ta.join(tb, "__i", "full_outer")
    u = int(unit)

    def rec(rname):
        return F.coalesce(
            F.expr(f"{u} DIV ({int(k)} + {rname})").cast(dec),
            F.lit(0).cast(dec),
        )

    scored = fused.select(
        F.col("__i").alias("item"),
        "rank_a",
        "rank_b",
        (rec("rank_a") + rec("rank_b")).alias("__su"),
    )
    wout = W.orderBy(F.col("__su").desc(), F.col("item").asc())
    out = (
        scored.orderBy(F.col("__su").desc(), F.col("item").asc())
        .limit(int(out_k))
        .select(
            F.row_number().over(wout).alias("rank"),
            "item",
            (F.col("__su").cast("double") / F.lit(float(unit)))
            .alias("rrf_score"),
            "rank_a",
            "rank_b",
        )
    )
    return out


def distribution_distances(
    df: DataFrame,
    value_col: str,
    group_col: str,
    unit: int = 10**15,
) -> DataFrame:
    """Total variation, Bhattacharyya coefficient and Hellinger
    distance between the ``value_col`` distributions of group 1
    (truthy ``group_col``) and group 0 — the bounded-metric members
    of the drift family (KS is a sup, CvM/Wasserstein are
    integrals; TVD is "the largest probability mass any event can
    differ by", Hellinger is the geometry the statistics literature
    actually bounds with):

        TVD = (1/2) sum_v |p_v - q_v|
        BC  = sum_v sqrt(p_v q_v),   H = sqrt(1 - BC)

    Exactness: TVD is EXACT — the cross-multiplied integer
    |c1_v n_0 - c0_v n_1| summed in DECIMAL(38,0) with ONE division
    by 2 n_1 n_0. BC's per-value sqrt(c1 c0) terms are quantized to
    integer 1/``unit`` units before the cross-value sum (house
    rule), normalized once by sqrt(n_1 n_0); H is one float of BC
    (clamped at 0 against quantization). All off the shared value
    histogram (:func:`_value_hist`) — one groupBy and its broadcast
    totals, no window at all.

    Rows with NULL value or group are dropped. Output: one row
    (n_1, n_0, tvd, bc, hellinger); NULL when either group is
    empty."""
    h = _value_hist(df, F.col(value_col), group_col)
    tot = h.agg(F.sum("a").alias("__na"), F.sum("b").alias("__nb"))
    u = F.lit(float(unit))
    j = h.crossJoin(F.broadcast(tot))
    tvd_term = F.abs(
        F.col("a") * F.col("__nb") - F.col("b") * F.col("__na")
    )
    bc_term = F.floor(
        F.sqrt((F.col("a") * F.col("b")).cast("double")) * u
    ).cast(_DEC)
    agg = j.agg(
        F.first("__na").alias("__fa"),
        F.first("__nb").alias("__fb"),
        F.sum(tvd_term).alias("__tv"),
        F.sum(bc_term).alias("__bc"),
    )
    na, nb = F.col("__fa"), F.col("__fb")
    ok = (na > 0) & (nb > 0)
    tvd = F.col("__tv").cast("double") / (
        F.lit(2).cast(_DEC) * na * nb
    ).cast("double")
    bc = (
        F.col("__bc").cast("double")
        / u
        / F.sqrt((na * nb).cast("double"))
    )
    hel = F.sqrt(F.greatest(F.lit(1.0) - bc, F.lit(0.0)))
    return agg.select(
        na.cast("bigint").alias("n_1"),
        nb.cast("bigint").alias("n_0"),
        F.when(ok, tvd).alias("tvd"),
        F.when(ok, bc).alias("bc"),
        F.when(ok, hel).alias("hellinger"),
    )


def _kw_rank_stats(
    df: DataFrame, value_col: str, group_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared rank machinery for :func:`kruskal_wallis` and
    :func:`dunn_posthoc`: the (value, group) HISTOGRAM of one raw scan
    through ``stats._rank_sums`` (one window over distinct values,
    never rows — the house rank rule shared with
    :func:`mannwhitney_u`), all exact DECIMAL(38,0).

    Returns ``(per_group, totals)``: per_group has one row per group
    (g, __ng, __r2g) where __r2g = 2 * (sum of pooled midranks of
    the group's rows); totals is ONE row (__n, __tie) with
    __tie = sum_v (t_v^3 - t_v) the standard tie correction."""
    from protosc_spark.stats import _rank_sums

    v = F.col(value_col).cast("bigint")
    hist = (
        df.where(v.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(v.alias("v"), F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sums = _rank_sums(hist, [])
    per_group = sums.select(
        "g", F.col("ng").alias("__ng"), F.col("r2g").alias("__r2g")
    )
    totals = sums.agg(
        F.sum("ng").alias("__n"), F.sum("tie").alias("__tie")
    )
    return per_group, totals


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
    unit: int = 10**9,
) -> DataFrame:
    """Kruskal-Wallis H test — "did the LOCATION move across k
    groups?", the k-sample extension of :func:`mannwhitney_u` and
    the rank-robust sibling of the weekday ANOVA. This is THE
    reference's core feature statistic (protosc
    model/utils.py:56-89 calc_chisquare runs scipy.stats.kruskal
    per feature); here it is the corpus-level readout of the same
    machinery, computed distributed:

        H = [ 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1) ]
            / (1 - sum_v (t_v^3 - t_v) / (N^3 - N))

    Exactness, the house way: per-group rank sums use DOUBLED
    pooled midranks (R2_g = 2 R_g, exact DECIMAL(38,0) from
    ``stats._rank_sums`` over the value histogram — one window over
    distinct values, no per-row rank join). The textbook form
    subtracts two O(N^3)-sized terms — quantizing R_g^2/n_g would
    overflow the integer grid at corpus N — so H is computed in the
    algebraically identical DEVIATION form: with
    D2_g = R2_g - n_g (N + 1) (exact integer, sums to 0),

        H_unc = sum_g 3 * D2_g^2 / (4 n_g N (N+1)),

    and each group's contribution is BOUNDED by 12, so quantizing
    it to integer 1/``unit`` units before the cross-group sum (a
    float sum over groups would drift with partial-aggregation
    order) can never overflow — at any N. The tie correction
    divides two exact integers. D2_g enters as a double: exact
    while |D2_g| < 2^53; past that the 1e-9 grid already dominates
    the double's own granularity, identically in both engines.

    The significance readout is Fisher's sqrt approximation
    z = sqrt(2H) - sqrt(2(k-1) - 1), one-sided 5%
    (z > 1.6448536269514722) — closed-form, replayable by any SQL
    engine (the chi-square tail needs the incomplete gamma, which
    neither Catalyst nor ANSI SQL has). Epsilon-squared
    E^2 = H/(N-1) is the conventional effect size.

    Output: ONE row (n, k, tie_factor, h, epsilon_sq, z,
    significant); h NULL when k < 2, N <= k, or every row is one
    tie block (tie_factor 0)."""
    dec = "decimal(38,0)"
    per_group, totals = _kw_rank_stats(df, value_col, group_col)
    joined = per_group.crossJoin(F.broadcast(totals))
    n = F.col("__n")
    nd = n.cast("double")
    d2 = F.col("__r2g") - F.col("__ng") * (n + F.lit(1).cast(dec))
    d2d = d2.cast("double")
    contrib = (
        F.lit(3.0)
        * d2d
        * d2d
        / (
            F.lit(4.0)
            * F.col("__ng").cast("double")
            * nd
            * (nd + F.lit(1.0))
        )
    )
    # global agg (not groupBy) so an empty corpus still yields the
    # one-row NULL readout, matching the SQL oracle's shape; __n and
    # __tie are constant across the joined rows, min() just carries
    # them through
    g = joined.agg(
        F.min("__n").alias("__n"),
        F.min("__tie").alias("__tie"),
        F.count(F.lit(1)).alias("__k"),
        F.sum(
            F.floor(contrib * F.lit(float(unit))).cast(dec)
        ).alias("__hu"),
    )
    u = F.lit(float(unit))
    k = F.col("__k").cast("double")
    h_unc = F.col("__hu").cast("double") / u
    cube = (n - F.lit(1).cast(dec)) * n * (n + F.lit(1).cast(dec))
    tie_factor = (
        F.lit(1.0)
        - F.col("__tie").cast("double") / cube.cast("double")
    )
    h = F.greatest(h_unc / tie_factor, F.lit(0.0))
    valid = (
        (F.col("__k") >= 2)
        & (n > F.col("__k").cast(dec))
        & (tie_factor > 0)
    )
    z = F.sqrt(F.lit(2.0) * h) - F.sqrt(
        F.lit(2.0) * (k - F.lit(1.0)) - F.lit(1.0)
    )
    return g.select(
        n.cast("bigint").alias("n"),
        F.col("__k").cast("bigint").alias("k"),
        F.when(n > 1, tie_factor).alias("tie_factor"),
        F.when(valid, h).alias("h"),
        F.when(valid, h / (nd - F.lit(1.0))).alias("epsilon_sq"),
        F.when(valid, z).alias("z"),
        F.when(valid, z > F.lit(1.6448536269514722)).alias(
            "significant"
        ),
    )


def dunn_posthoc(
    df: DataFrame,
    value_col: str,
    group_col: str,
    z_crit: float = 2.393979154749041,
) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons after
    :func:`kruskal_wallis` — WHICH groups differ, once H says "some
    do" (running pairwise Mann-Whitney instead would re-rank within
    each pair and inflate alpha; Dunn reuses the POOLED ranks and a
    Bonferroni-style critical value):

        z_ab = (Rbar_a - Rbar_b)
               / sqrt( (N(N+1)/12 - T/(12(N-1))) (1/n_a + 1/n_b) )

    with T = sum_v (t_v^3 - t_v). Computed on DOUBLED rank sums
    (numerator and denominator both double, so z is unchanged):
    mean doubled ranks are one division per group, the variance is
    one float tree of exact DECIMAL integers, and the pair table is
    a self-join of the k-row per-group table (k groups — broadcast,
    never a shuffle). Default ``z_crit`` is the two-sided Bonferroni
    5% critical value for k = 3 (alpha' = 0.05/3,
    z = Phi^-1(1 - 0.025/3)); pass the value for your k.

    Output: one row per unordered pair (g_a < g_b lexicographically):
    (g_a, g_b, n_a, n_b, mean_rank_a, mean_rank_b, z, significant);
    z NULL when the pooled variance is 0 (every row one tie block)."""
    per_group, totals = _kw_rank_stats(df, value_col, group_col)
    a = per_group.select(
        F.col("g").alias("g_a"),
        F.col("__ng").alias("__na"),
        F.col("__r2g").alias("__r2a"),
    )
    b = per_group.select(
        F.col("g").alias("g_b"),
        F.col("__ng").alias("__nb"),
        F.col("__r2g").alias("__r2b"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("g_a") < F.col("g_b"), "inner"
    ).crossJoin(F.broadcast(totals))
    dec = "decimal(38,0)"
    n = F.col("__n")
    nd = n.cast("double")
    na, nb = F.col("__na"), F.col("__nb")
    mda = F.col("__r2a").cast("double") / na.cast("double")
    mdb = F.col("__r2b").cast("double") / nb.cast("double")
    # doubled-rank variance = 4 * (N(N+1)/12 - T/(12(N-1)))
    var_d = (
        nd * (nd + F.lit(1.0))
        - F.col("__tie").cast("double")
        / (nd - F.lit(1.0))
    ) / F.lit(3.0)
    se = F.sqrt(
        var_d
        * (
            F.lit(1.0) / na.cast("double")
            + F.lit(1.0) / nb.cast("double")
        )
    )
    ok = (n > F.lit(1).cast(dec)) & (se > 0)
    z = (mda - mdb) / se
    return pairs.select(
        "g_a",
        "g_b",
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        (mda / F.lit(2.0)).alias("mean_rank_a"),
        (mdb / F.lit(2.0)).alias("mean_rank_b"),
        F.when(ok, z).alias("z"),
        F.when(ok, F.abs(z) > F.lit(z_crit)).alias("significant"),
    )


def energy_distance(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Szekely-Rizzo two-sample ENERGY distance between the
    ``value_col`` distributions of group 1 (``group_col`` truthy)
    and group 0 — the drift-family member that metrizes equality of
    distributions through EXPECTED PAIR DISTANCES rather than ECDF
    gaps (KS/Kuiper) or integrated squares (CvM): in 1-D,
    E = 2 E|X-Y| - E|X-X'| - E|Y-Y'| = 2 * W2-like mass, zero iff
    the distributions are identical, sensitive everywhere W1 is but
    with the U/V-statistic normalization the permutation-test
    literature uses.

    All three pair sums are EXACT DECIMAL(38,0) integers off
    :func:`_value_cdf` of the BIGINT-cast value — never an O(n^2)
    pair join: with prefix sums over distinct values v (ascending),
    SA = cum count, SAV = cum count*value below v,

        sum_{pairs} |x - y| = sum_v a_v (v * SB_v - SBV_v)
                            + sum_v b_v (v * SA_v - SAV_v)

    (ties contribute 0), and within-group sums reuse the same
    window; SAV/SBV are two extra prefix sums on the CDF's window.
    The only non-integer step is the three final divisions:
    A = Pab/(n1 n0), B = 2 Paa/n1^2, C = 2 Pbb/n0^2 (V-statistic
    convention: |x-x| self-pairs count as 0 in the n^2
    denominator), combined in one float tree identical in the SQL
    oracle. The test statistic T = n1 n0 / N * E is what the
    permutation test thresholds. Precision envelope: v * cum stays
    inside DECIMAL(38) for |v| * N < 1e37.

    Rows with NULL value or group are dropped. Output: ONE row
    (n_1, n_0, e_dist, t_stat); NULL when either group is empty."""
    vd = F.col("v").cast(_DEC)
    a, b = F.col("a"), F.col("b")
    ia = vd * F.col("ca") - F.col("sav")  # sum_{x < v, group 1} (v - x)
    ib = vd * F.col("cb") - F.col("sbv")
    g = _value_cdf(
        _value_hist(df, F.col(value_col).cast("bigint"), group_col),
        sav=vd * a,
        sbv=vd * b,
    ).agg(
        F.max("n1").alias("__n1"),
        F.max("n0").alias("__n0"),
        F.sum(a * ib + b * ia).alias("__pab"),
        F.sum(a * ia).alias("__paa"),
        F.sum(b * ib).alias("__pbb"),
    )
    n1, n0 = F.col("__n1"), F.col("__n0")
    n1d, n0d = n1.cast("double"), n0.cast("double")
    aa = F.col("__pab").cast("double") / (n1d * n0d)
    bb = F.lit(2.0) * F.col("__paa").cast("double") / (n1d * n1d)
    cc = F.lit(2.0) * F.col("__pbb").cast("double") / (n0d * n0d)
    e = F.lit(2.0) * aa - bb - cc
    ok = (n1 > 0) & (n0 > 0)
    return g.select(
        n1.cast("bigint").alias("n_1"),
        n0.cast("bigint").alias("n_0"),
        F.when(ok, e).alias("e_dist"),
        F.when(ok, n1d * n0d / (n1d + n0d) * e).alias("t_stat"),
    )


def ordinal_association(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Ordinal association beyond tau-b — Goodman-Kruskal GAMMA,
    SOMERS' D (both directions) and Stuart's TAU-C from the same
    concordant/discordant pair machinery as :func:`kendall_tau`
    (one self-join of the joint value-histogram CELL table, never
    O(n^2) row pairs):

        gamma = (C - D) / (C + D)                (ties ignored)
        d_ba  = (C - D) / (C + D + T_b)          (b dependent)
        d_ab  = (C - D) / (C + D + T_a)          (a dependent)
        tau_c = 2 m (C - D) / (n^2 (m - 1)),  m = min(#a, #b)

    where T_b = pairs tied on b but NOT on a (and vice versa) —
    gamma answers "of the pairs that ORDER, how many agree?" (the
    PII-robust rank association for coarse bins, where tau-b's tie
    penalty washes the signal out), Somers' D is the asymmetric
    regression-flavoured variant (the effect size behind the
    c-statistic: d_ba = 2 AUC - 1 for binary a), tau-c the
    rectangular-table correction. Exactness: C, D and all tie
    counts are exact DECIMAL(38,0) sums of cell-count products
    (doubled tie pairs x(x-1), the doubling cancels in every
    ratio); each statistic is ONE float division of exact integers.

    Cost envelope: the cell self-join is quadratic in distinct-pair
    count, not rows — bin/quantize continuous columns first.

    Rows with NULL in either column are dropped. Output: one row
    (n, m, n_concordant, n_discordant, gamma, somers_d_ba,
    somers_d_ab, tau_c); each NULL when its denominator is 0."""
    dec = "decimal(38,0)"
    one = F.lit(1).cast(dec)
    cell = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(
            F.col(a_col).alias("__a"), F.col(b_col).alias("__b")
        )
        .agg(F.count(F.lit(1)).cast(dec).alias("__n"))
        # feeds the pair join (twice) and both marginals
        .localCheckpoint(eager=True)
    )
    lo = cell.select(
        F.col("__a").alias("__a1"),
        F.col("__b").alias("__b1"),
        F.col("__n").alias("__n1"),
    )
    hi = cell.select(
        F.col("__a").alias("__a2"),
        F.col("__b").alias("__b2"),
        F.col("__n").alias("__n2"),
    )
    pairs = lo.join(hi, F.col("__a2") > F.col("__a1"), "inner")
    cd = pairs.agg(
        F.sum(
            F.when(
                F.col("__b2") > F.col("__b1"),
                F.col("__n1") * F.col("__n2"),
            ).otherwise(F.lit(0).cast(dec))
        ).alias("__c"),
        F.sum(
            F.when(
                F.col("__b2") < F.col("__b1"),
                F.col("__n1") * F.col("__n2"),
            ).otherwise(F.lit(0).cast(dec))
        ).alias("__d"),
    )

    def _marginal(col, t_out, m_out):
        m = cell.groupBy(col).agg(F.sum("__n").alias("__c"))
        return m.agg(
            F.sum(F.col("__c") * (F.col("__c") - one)).alias(t_out),
            F.count(F.lit(1)).cast(dec).alias(m_out),
            F.sum("__c").alias(m_out + "_n"),
        )

    ta = _marginal("__a", "__t1", "__ma")
    tb = _marginal("__b", "__t2", "__mb").drop("__mb_n")
    tboth = cell.agg(
        F.sum(F.col("__n") * (F.col("__n") - one)).alias("__tb2")
    )
    g = (
        cd.crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(tboth))
        .withColumnRenamed("__ma_n", "__nn")
    )
    cc, dd = F.col("__c"), F.col("__d")
    n = F.col("__nn")
    s = cc + dd
    # doubled "tied on b only" pairs = t2 - tboth; C/D are single-
    # counted, so double them where they meet a doubled tie term
    two = F.lit(2).cast(dec)
    den_ba = two * s + F.col("__t2") - F.col("__tb2")
    den_ab = two * s + F.col("__t1") - F.col("__tb2")
    m = F.least(F.col("__ma"), F.col("__mb"))
    num = (cc - dd).cast("double")
    tauc_den = (n * n).cast("double") * (
        m.cast("double") - F.lit(1.0)
    )
    return g.select(
        n.cast("bigint").alias("n"),
        m.cast("bigint").alias("m"),
        cc.cast("bigint").alias("n_concordant"),
        dd.cast("bigint").alias("n_discordant"),
        F.when(s > 0, num / s.cast("double")).alias("gamma"),
        F.when(
            den_ba > 0, F.lit(2.0) * num / den_ba.cast("double")
        ).alias("somers_d_ba"),
        F.when(
            den_ab > 0, F.lit(2.0) * num / den_ab.cast("double")
        ).alias("somers_d_ab"),
        F.when(
            (m > one) & (n > 0),
            F.lit(2.0) * m.cast("double") * num / tauc_den,
        ).alias("tau_c"),
    )


def ad_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    unit: int = 10**9,
) -> DataFrame:
    """Two-sample Anderson-Darling drift test (Scholz-Stephens
    tie-adjusted midrank version, k = 2) between the ``value_col``
    distributions of group 1 (``group_col`` truthy) and group 0 —
    the TAIL-WEIGHTED member of the drift family: KS/Kuiper read
    the max ECDF gap, CvM integrates its square uniformly, AD
    divides by B(N-B) so gaps in the far tails — exactly where
    contamination and truncation live — count hardest.

    The k = 2 statistic collapses to a single exact term per
    distinct value: with DB_j = 2 B_j (doubled midrank pooled
    count), DM_j = 2 M_1j (doubled group-1 count), both exact
    integers off :func:`_value_cdf` of the BIGINT-cast value
    (DB_j = 2 (ca + cb) + l_j, DM_j = 2 ca + a_j), the two group
    terms are equal
    (N DM - n1 DB = -(N DM0 - n0 DB)), so

        A^2 = (N-1)/N * sum_j l_j E_j^2 / (n1 n0 den_j),
        E_j = N DM_j - n1 DB_j,
        den_j = DB_j (2N - DB_j) - N l_j

    (the /4s from doubling cancel between numerator and
    denominator; values with den_j = 0 — only possible when one
    value holds the whole pooled sample — contribute nothing, per
    the reference treatment). Each per-value contribution is
    quantized to 1/``unit`` units before the sum (house rule); the
    contribution is O(N) worst-case so the grid stays inside BIGINT
    for N up to ~9e9 rows per call. Verdict: the asymptotic 5%
    critical value 2.492 of the A^2 limit law (k = 2), a literal
    compare replayable by any SQL engine.

    Rows with NULL value or group are dropped. Output: ONE row
    (n_1, n_0, a2, significant); NULL when either group is empty."""
    dec = _DEC
    zero = F.lit(0).cast(dec)
    two = F.lit(2).cast(dec)
    l = F.col("a") + F.col("b")
    db = two * (F.col("ca") + F.col("cb")) + l
    dm = two * F.col("ca") + F.col("a")
    n1, n0 = F.col("n1"), F.col("n0")
    nn = n1 + n0
    e = nn * dm - n1 * db
    den = db * (two * nn - db) - nn * l
    # ANSI-safe: the when(den > 0) guard below does NOT protect the
    # division — codegen hoists it as a common subexpression — so the
    # divisor itself is NULL whenever it would be 0 (house rule from
    # partial_corr)
    prod = n1.cast("double") * n0.cast("double") * den.cast(
        "double"
    )
    contrib = (
        l.cast("double")
        * e.cast("double")
        * e.cast("double")
        / F.when(prod > 0, prod)
    )
    g = _value_cdf(
        _value_hist(df, F.col(value_col).cast("bigint"), group_col)
    ).agg(
        F.max("n1").alias("__n1"),
        F.max("n0").alias("__n0"),
        F.sum(
            F.when(
                den > 0,
                F.floor(contrib * F.lit(float(unit))).cast(dec),
            ).otherwise(zero)
        ).alias("__su"),
    )
    n1, n0 = F.col("__n1"), F.col("__n0")
    nd = (n1 + n0).cast("double")
    a2 = (
        (nd - F.lit(1.0))
        / nd
        * (F.col("__su").cast("double") / F.lit(float(unit)))
    )
    ok = (n1 > 0) & (n0 > 0)
    return g.select(
        n1.cast("bigint").alias("n_1"),
        n0.cast("bigint").alias("n_0"),
        F.when(ok, a2).alias("a2"),
        F.when(ok, a2 > F.lit(2.492)).alias("significant"),
    )


def rfm_segments(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    amount_col: str,
    n_bins: int = 5,
    cents: int = 100,
) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation —
    the classic customer-value grid, computed the exact-histogram
    way: NO global ntile (an unpartitioned rank window over every
    entity is the sort-the-corpus anti-pattern; at web scale the
    entity table IS the corpus). Instead each metric's quintile
    boundaries come from its VALUE HISTOGRAM (distinct-value rows,
    one cumulative window each), and scores are boundary compares:

        score(v) = 1 + #{k : v > b_k},
        b_k = min value with cum_count >= ceil(k n / bins)

    — so tied entities always land in the same bin (ntile splits
    ties by partition order; this is deterministic by value).
    Recency is scored on the NEGATED day gap (most recent = highest
    score); monetary sums are exact integer cents (amounts
    quantized once by floor(amount * cents)). Segment labels follow
    the conventional R x F reading: champion (r,f >= 4), new
    (r >= 4, f <= 2), at_risk (r <= 2, f >= 4), hibernating
    (r,f <= 2), else core.

    Output: one row per occupied (r_score, f_score, m_score) cell:
    (r_score, f_score, m_score, label, n_entities, total_amount,
    avg_amount) — at most bins^3 rows."""
    dec = "decimal(38,0)"
    maxd = df.agg(
        F.max(F.to_date(ts_col)).alias("__maxd")
    )
    per = (
        df.crossJoin(F.broadcast(maxd))
        .groupBy(F.col(entity_col).alias("__e"))
        .agg(
            F.min(
                F.datediff(F.col("__maxd"), F.to_date(ts_col))
            ).cast("bigint").alias("__rec"),
            F.count(F.lit(1)).cast("bigint").alias("__freq"),
            F.sum(
                F.floor(
                    F.col(amount_col).cast("double")
                    * F.lit(float(cents))
                ).cast("bigint")
            ).cast("bigint").alias("__cents"),
        )
        .withColumn("__negrec", -F.col("__rec"))
        # feeds three histogram aggregations and the final score join
        .localCheckpoint(eager=True)
    )

    def _boundaries(col: str):
        hist = per.groupBy(F.col(col).alias("__v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("__c")
        )
        w = W.orderBy("__v").rowsBetween(W.unboundedPreceding, 0)
        cum = hist.select(
            "__v", F.sum("__c").over(w).alias("__cum")
        )
        tot = hist.agg(F.sum("__c").alias("__n"))
        j = cum.crossJoin(F.broadcast(tot))
        aggs = []
        for k in range(1, n_bins):
            # ceil(k n / bins) in pure integer arithmetic
            rk = F.expr(
                f"({k} * __n + {n_bins} - 1) DIV {n_bins}"
            )
            aggs.append(
                F.min(
                    F.when(F.col("__cum") >= rk, F.col("__v"))
                ).alias(f"__b{k}")
            )
        return j.agg(*aggs)

    def _score(col: str, bnd_prefix: str):
        s = F.lit(1)
        for k in range(1, n_bins):
            s = s + F.when(
                F.col(col) > F.col(f"{bnd_prefix}__b{k}"), 1
            ).otherwise(0)
        return s

    scored = per
    for col, name in (
        ("__negrec", "r"),
        ("__freq", "f"),
        ("__cents", "m"),
    ):
        bnd = _boundaries(col)
        renamed = bnd.select(
            *[
                F.col(f"__b{k}").alias(f"{name}__b{k}")
                for k in range(1, n_bins)
            ]
        )
        scored = scored.crossJoin(F.broadcast(renamed))
        scored = scored.withColumn(
            f"{name}_score", _score(col, name)
        )
    r, f_ = F.col("r_score"), F.col("f_score")
    label = (
        F.when((r >= 4) & (f_ >= 4), F.lit("champion"))
        .when((r >= 4) & (f_ <= 2), F.lit("new"))
        .when((r <= 2) & (f_ >= 4), F.lit("at_risk"))
        .when((r <= 2) & (f_ <= 2), F.lit("hibernating"))
        .otherwise(F.lit("core"))
    )
    cd = F.lit(float(cents))
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_entities"),
            F.sum("__cents").cast(dec).alias("__tc"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            label.alias("label"),
            "n_entities",
            (F.col("__tc").cast("double") / cd).alias(
                "total_amount"
            ),
            (
                F.col("__tc").cast("double")
                / (F.col("n_entities").cast("double") * cd)
            ).alias("avg_amount"),
        )
    )


def icc_oneway(
    df: DataFrame,
    value_col: str,
    group_col: str,
    unit: int = 10**9,
) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1) of
    ``value_col`` across ``group_col`` — what fraction of total
    variance lives BETWEEN groups (sources, annotators, crawl
    snapshots)? The variance-decomposition sibling of Cronbach's
    alpha (consistency of parallel measurements) and eta-squared
    (fixed-effects share): ICC is the number to quote when groups
    are a random sample of a population of groups. Unequal group
    sizes use the standard ANOVA estimator (Searle):

        ICC = (MSB - MSW) / (MSB + (k0 - 1) MSW),
        k0  = (N - sum n_g^2 / N) / (k - 1)

    Exactness, the house way: per-group n_g, S_g, Q_g are exact
    DECIMAL(38,0) from ONE aggregation; the per-group term
    S_g^2 / n_g is quantized to integer 1/``unit`` units before the
    cross-group sum, as is n_g^2 / N (both bounded by their
    group's contribution — the Brown-Forsythe rule); MSB, MSW, k0
    and ICC are one closed float tree, identical in the SQL oracle.
    Negative ICC estimates are reported as-is (the standard
    convention — truncation hides a between-variance of ~0).

    Output: ONE row (n, k, msb, msw, k0, icc); NULL statistics when
    k < 2, N <= k, or MSW's denominator degenerates."""
    dec = "decimal(38,0)"
    v = F.col(value_col).cast("bigint")
    rows = df.where(
        v.isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("g"), v.alias("x"))
    grp = rows.groupBy("g").agg(
        F.count(F.lit(1)).cast(dec).alias("__ng"),
        F.sum(F.col("x").cast(dec)).alias("__sg"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("__qg"),
    )
    u = F.lit(float(unit))
    term_b = (F.col("__sg") * F.col("__sg")).cast(
        "double"
    ) / F.col("__ng").cast("double")
    g = grp.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__ng").alias("__n"),
        F.sum("__sg").alias("__s"),
        F.sum("__qg").alias("__q"),
        F.sum(F.floor(term_b * u).cast(dec)).alias("__bu"),
        F.sum(
            (F.col("__ng") * F.col("__ng")).cast(dec)
        ).alias("__nn2"),
    )
    n = F.col("__n")
    nd = n.cast("double")
    kd = F.col("__k").cast("double")
    b = F.col("__bu").cast("double") / u
    ssb = b - (F.col("__s") * F.col("__s")).cast("double") / nd
    ssw = F.col("__q").cast("double") - b
    # ANSI-safe divisors (NULL, not 0, when degenerate)
    km1 = F.when(kd > 1, kd - F.lit(1.0))
    nmk = F.when(nd > kd, nd - kd)
    msb = ssb / km1
    msw = ssw / nmk
    k0 = (nd - F.col("__nn2").cast("double") / nd) / km1
    # ANSI-safe: NULL divisor by construction (hoisted-subexpr rule)
    iden = msb + (k0 - F.lit(1.0)) * msw
    icc = (msb - msw) / F.when(iden != 0, iden)
    valid = (
        (F.col("__k") >= 2)
        & (n > F.col("__k").cast(dec))
        & icc.isNotNull()
    )
    return g.select(
        n.cast("bigint").alias("n"),
        F.col("__k").cast("bigint").alias("k"),
        F.when(valid, msb).alias("msb"),
        F.when(valid, msw).alias("msw"),
        F.when(valid, k0).alias("k0"),
        F.when(valid, icc).alias("icc"),
    )


def tost_equivalence(
    df: DataFrame,
    value_col: str,
    group_col: str,
    margin: float,
) -> DataFrame:
    """TOST equivalence readout (two one-sided tests) between group
    1 (``group_col`` truthy) and group 0 — the experiment-family
    member that PROVES absence: welch_ttest failing to reject says
    "no evidence of an effect"; TOST rejecting both one-sided nulls
    says "the effect is provably inside +-``margin``" — the
    regulatory / non-inferiority standard (Schuirmann 1987):

        z_lower = (diff + margin) / se   (H0: diff <= -margin)
        z_upper = (margin - diff) / se   (H0: diff >= +margin)
        equivalent  <=>  min(z_lower, z_upper) > 1.6448536269514722

    with diff = mean_1 - mean_0 and the WELCH standard error
    se = sqrt(s1^2/n1 + s0^2/n0). Exactness: the same one-pass
    exact DECIMAL moments as effect_size; every statistic is a
    closed float tree of exact integers, identical in the SQL
    oracle (z at corpus n makes the t-vs-normal distinction
    negligible — the welch_ttest convention).

    Output: ONE row (n_1, n_0, diff, se, z_lower, z_upper,
    equivalent); NULL when either group has < 2 rows or se = 0."""
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
    n1d, n0d = n1.cast("double"), n0.cast("double")
    m1 = F.col("__s1").cast("double") / n1d
    m0 = F.col("__s0").cast("double") / n0d
    # unbiased s^2 = (n q - s^2) / (n (n - 1)), exact numerator
    v1 = (n1 * F.col("__q1") - F.col("__s1") * F.col("__s1")).cast(
        "double"
    ) / (n1d * (n1d - F.lit(1.0)))
    v0 = (n0 * F.col("__q0") - F.col("__s0") * F.col("__s0")).cast(
        "double"
    ) / (n0d * (n0d - F.lit(1.0)))
    se = F.sqrt(v1 / n1d + v0 / n0d)
    diff = m1 - m0
    mg = F.lit(float(margin))
    zl = (diff + mg) / F.when(se != 0, se)
    zu = (mg - diff) / F.when(se != 0, se)
    zcrit = F.lit(1.6448536269514722)
    two = F.lit(2).cast(dec)
    ok = (n1 >= two) & (n0 >= two)
    return g.select(
        n1.cast("bigint").alias("n_1"),
        n0.cast("bigint").alias("n_0"),
        F.when(ok, diff).alias("diff"),
        F.when(ok, se).alias("se"),
        F.when(ok, zl).alias("z_lower"),
        F.when(ok, zu).alias("z_upper"),
        F.when(
            ok & zl.isNotNull(),
            (zl > zcrit) & (zu > zcrit),
        ).alias("equivalent"),
    )


def chi2_cell_residuals(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Standardized (adjusted) Pearson residual per contingency
    cell — WHICH cells drive :func:`chi2_independence`'s verdict (a
    significant lang x source chi-square is an alarm with no
    address; the residual table is the address):

        r_cell = (o - e) / sqrt(e (1 - r_a/N) (1 - c_b/N)),
        e = r_a c_b / N

    (Haberman's adjusted residual — each cell is asymptotically
    N(0,1) under independence, so |r| > 2 flags a cell at ~5%).
    The FULL |A| x |B| grid is emitted (zero-observed cells get
    their negative residual — an absence can be the signal), built
    from the two category-sized marginal tables exactly as the
    chi-square does. Exactness: o, marginals and N are exact
    integers; (o N - r_a c_b) stays exact DECIMAL in the numerator
    and each residual is ONE float expression of exact integers:

        r = (o N - r_a c_b) / sqrt(r_a c_b (N - r_a) (N - c_b) / N)

    (multiply the textbook form through by N — exact until the
    single division; the algebra is pinned in tests).

    Output: one row per grid cell (a, b, observed, expected,
    std_residual, flagged); residual NULL for degenerate marginals
    (a full row/column)."""
    dec = "decimal(38,0)"
    rows = df.where(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    ).select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    cells = rows.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast(dec).alias("__o")
    )
    ra = rows.groupBy("a").agg(
        F.count(F.lit(1)).cast(dec).alias("__ra")
    )
    cb = rows.groupBy("b").agg(
        F.count(F.lit(1)).cast(dec).alias("__cb")
    )
    tot = rows.agg(F.count(F.lit(1)).cast(dec).alias("__n"))
    grid = (
        ra.crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(tot))
        .join(cells, ["a", "b"], "left")
        .withColumn(
            "__o", F.coalesce(F.col("__o"), F.lit(0).cast(dec))
        )
    )
    o, r, c, n = (
        F.col("__o"),
        F.col("__ra"),
        F.col("__cb"),
        F.col("__n"),
    )
    num = (o * n - r * c).cast("double")
    dvar = (r * c * (n - r) * (n - c)).cast("double") / n.cast(
        "double"
    )
    res = num / F.sqrt(F.when(dvar > 0, dvar))
    return grid.select(
        "a",
        "b",
        o.cast("bigint").alias("observed"),
        ((r * c).cast("double") / n.cast("double")).alias(
            "expected"
        ),
        res.alias("std_residual"),
        F.when(
            res.isNotNull(), F.abs(res) > F.lit(2.0)
        ).alias("flagged"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    unit: int = 10**9,
) -> DataFrame:
    """Isotonic (PAV) calibration of a binary label against a score,
    EXACT on a 1/``unit`` grid — the monotone calibration map that
    reliability bins (:func:`calibration_bins`) only approximate with
    fixed-width buckets.

    Instead of the sequential pool-adjacent-violators stack (which
    has no order-free distributed form), the fit is computed from the
    minimax characterization of isotonic regression

        iso(i) = max_{j <= i} min_{k >= i} mean(y[j..k])

    over the DISTINCT-SCORE histogram: segment means come from exact
    integer prefix sums (cross-multiplied into ``unit``-grid integers
    with one BIGINT DIV, floor on both engines since every quantity is
    nonnegative), the inner min is a per-j suffix-min window, the
    outer max one aggregate. Quantizing each mean before the minimax
    keeps every comparison an integer compare — order-independent at
    any parallelism — and since max-min is 1-Lipschitz in sup norm the
    result sits within 1/unit of the true PAV solution; monotonicity
    is EXACT for any per-pair values (growing j-range and shrinking
    k-range both only raise the value).

    Scale shape: everything runs on the V-distinct-score collapse —
    one map-side-combined groupBy(score), a V-row rank/prefix window
    (vocab-sized, the documented house pattern), a V^2/2-row pair
    join, per-j suffix-min windows of <= V rows. V is the caller's
    contract: quantize a continuous score first (integer bucket /
    sketches.hdr_histogram), exactly like :func:`auc_exact`. The
    corpus itself is touched once.

    Output: (score, n, pos, rate, iso_rate) per distinct score,
    iso_rate non-decreasing in score.
    """
    h = (
        df.where(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .groupBy(F.col(score_col).alias("score"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col(label_col).cast("int"))
            .cast("bigint")
            .alias("pos"),
        )
    )
    w = W.orderBy("score").rowsBetween(W.unboundedPreceding, 0)
    # the V-row collapse feeds THREE consumers (both pair-join sides
    # and the output join); localCheckpoint cuts lineage so the
    # corpus is scanned once, not re-derived per consumer (the
    # entropy_rate/pagerank precedent — the table is V rows)
    idx = h.select(
        "score",
        "n",
        "pos",
        F.row_number().over(W.orderBy("score")).alias("i"),
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
    ).localCheckpoint(eager=True)
    a = idx.select(
        F.col("i").alias("j"),
        F.col("cn").alias("cnj"),
        F.col("cp").alias("cpj"),
        F.col("n").alias("nj"),
        F.col("pos").alias("pj"),
    )
    pairs = a.join(idx, F.col("j") <= F.col("i")).select(
        "j",
        "i",
        F.expr(
            f"(({_ISO_POS}) * CAST({unit} AS BIGINT))"
            f" DIV ({_ISO_N})"
        ).alias("m"),
    )
    suf = W.partitionBy("j").orderBy(F.col("i").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    fit = (
        pairs.withColumn("a_ji", F.min("m").over(suf))
        .groupBy("i")
        .agg(F.max("a_ji").alias("f"))
    )
    return (
        idx.join(fit, "i")
        .select(
            "score",
            "n",
            "pos",
            F.round(
                F.col("pos").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("rate"),
            F.round(
                F.col("f").cast("double") / F.lit(float(unit)), 6
            ).alias("iso_rate"),
        )
        .orderBy("score")
    )


# segment sums for isotonic_calibration: pos(j..i) = cp_i - (cp_j -
# p_j), n(j..i) = cn_i - (cn_j - n_j) — the j row carries its own
# prefix so the pair join needs no j-1 lookup.
_ISO_POS = "cp - (cpj - pj)"
_ISO_N = "cn - (cnj - nj)"


def conformal_threshold(
    cal: DataFrame,
    evl: DataFrame,
    score_col: str,
    alphas_milli: tuple[int, ...] = (200, 100, 50),
) -> DataFrame:
    """Split-conformal prediction bound: per miscoverage level alpha,
    the finite-sample-exact one-sided threshold

        t = k-th smallest calibration score,
        k = ceil((n_cal + 1) * (1 - alpha))

    which guarantees P(score <= t) >= 1 - alpha on exchangeable data,
    plus the realized coverage on a held-out eval split. alpha enters
    as an INTEGER milli-level so k is pure integer arithmetic
    (((n+1) * (1000 - am) + 999) DIV 1000 — no float ceil to disagree
    across engines), and the order statistic comes from the
    distinct-score-value histogram (cumulative counts, smallest value
    whose cum reaches k) — the :func:`auc_exact` collapse, never a
    corpus sort. When k exceeds n_cal the bound is vacuous (+inf) and
    the row abstains with NULL threshold/coverage.

    Scale: one groupBy(score) on the calibration split (map-side
    combined), a distinct-value cumulative window, ONE scan of the
    eval split covering all levels at once (broadcast threshold
    table). Output: (alpha_milli, n_cal, k, threshold, n_eval,
    covered, coverage) ordered by alpha_milli desc.
    """
    hist = cal.where(F.col(score_col).isNotNull()).groupBy(
        F.col(score_col).alias("s")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wc = W.orderBy("s").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.select(
        "s", F.sum("c").over(wc).alias("cum")
    )
    n_cal = hist.agg(F.sum("c").cast("bigint").alias("n_cal"))
    al = cal.sparkSession.createDataFrame(
        [(int(a),) for a in alphas_milli], "alpha_milli int"
    )
    ks = al.crossJoin(F.broadcast(n_cal)).select(
        "alpha_milli",
        "n_cal",
        F.expr(
            "((n_cal + 1) * (1000 - alpha_milli) + 999) DIV 1000"
        ).alias("k"),
    )
    thr = (
        ks.join(cum, F.col("cum") >= F.col("k"), "left")
        .groupBy("alpha_milli", "n_cal", "k")
        .agg(F.min("s").alias("threshold"))
    )
    ev = evl.where(F.col(score_col).isNotNull()).select(
        F.col(score_col).alias("es")
    )
    cov = (
        ev.crossJoin(F.broadcast(thr))
        .groupBy("alpha_milli", "n_cal", "k", "threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum((F.col("es") <= F.col("threshold")).cast("int"))
            .cast("bigint")
            .alias("covered"),
        )
    )
    feasible = F.col("k") <= F.col("n_cal")
    return cov.select(
        "alpha_milli",
        "n_cal",
        "k",
        F.when(feasible, F.col("threshold")).alias("threshold"),
        "n_eval",
        F.when(feasible, F.col("covered")).alias("covered"),
        F.when(
            feasible,
            F.round(
                F.col("covered").cast("double")
                / F.col("n_eval").cast("double"),
                6,
            ),
        ).alias("coverage"),
    ).orderBy(F.col("alpha_milli").desc())


def bradley_terry(
    matches: DataFrame,
    n_iter: int = 25,
    a_col: str = "a",
    b_col: str = "b",
    wins_a_col: str = "wins_a",
    wins_b_col: str = "wins_b",
) -> DataFrame:
    """Bradley–Terry pairwise-strength MLE — rank k items from
    pairwise win counts (which source/model/variant wins head-to-head)
    via Hunter's MM iteration

        p_i <- W_i / sum_{j!=i} n_ij / (p_i + p_j),

    renormalized to mean 1 each round.  The whole optimization runs as
    ONE Catalyst ``aggregate`` fold over ``sequence(1, n_iter)`` on a
    ONE-ROW assembly (items array, per-item win totals, indexed pair
    array): the driver never sees data, iterations never launch jobs,
    and the fixed expression order makes the float trajectory
    engine-reproducible — a DuckDB recursive CTE replays it digit for
    digit.  Scale: the corpus collapses to the k x k win matrix in one
    map-side-combined aggregation; the fold runs on k doubles.

    Input: one row per unordered pair (a < b) with both win counts
    (ties carry no information and are simply absent). Items with zero
    total wins sink toward 0 — the MM fixed point — and items with
    zero games are excluded by construction.

    Output: (item, strength, rank, n_wins, n_games), strengths
    mean-normalized, rank by (strength desc, item).
    """
    pairs = matches.select(
        F.col(a_col).alias("ta"),
        F.col(b_col).alias("tb"),
        F.col(wins_a_col).cast("double").alias("wa"),
        F.col(wins_b_col).cast("double").alias("wb"),
    ).where(
        # a zero-game pair carries no information and would put a
        # zero term (or a whole zero denominator for an item seen
        # only in such pairs) into the MM update
        (F.col("wa") + F.col("wb"))
        > 0
    )
    one = pairs.groupBy().agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.array(F.col("ta"), F.col("tb")))
                )
            )
        ).alias("items"),
        F.array_sort(
            F.collect_list(F.struct("ta", "tb", "wa", "wb"))
        ).alias("praw"),
    )
    # index the pairs against the items array so both engines fold
    # over pure (int, int, double) triples
    one = one.select(
        "items",
        F.transform(
            F.col("praw"),
            lambda x: F.struct(
                F.array_position(F.col("items"), x["ta"]).cast("int").alias(
                    "ia"
                ),
                F.array_position(F.col("items"), x["tb"]).cast("int").alias(
                    "ib"
                ),
                (x["wa"] + x["wb"]).alias("n"),
            ),
        ).alias("pairs"),
        F.transform(
            F.col("items"),
            lambda it: F.aggregate(
                F.col("praw"),
                F.lit(0.0),
                lambda acc, x: acc
                + F.when(x["ta"] == it, x["wa"]).otherwise(0.0)
                + F.when(x["tb"] == it, x["wb"]).otherwise(0.0),
            ),
        ).alias("w"),
        F.transform(
            F.col("items"),
            lambda it: F.aggregate(
                F.col("praw"),
                F.lit(0.0),
                lambda acc, x: acc
                + F.when(
                    (x["ta"] == it) | (x["tb"] == it),
                    x["wa"] + x["wb"],
                ).otherwise(0.0),
            ),
        ).alias("g"),
    )

    # an empty (or all zero-game) input has no items: drop the
    # assembly row so the result is empty instead of indexing [1, 0]
    one = one.where(F.size("items") > 0)
    k = F.size(F.col("items"))
    idxs = F.sequence(F.lit(1), k)

    def _iterate(p, _):
        raw = F.transform(
            idxs,
            lambda i: F.element_at(F.col("w"), i)
            / F.aggregate(
                F.filter(
                    F.col("pairs"),
                    lambda x: (x["ia"] == i) | (x["ib"] == i),
                ),
                F.lit(0.0),
                lambda acc, x: acc
                + x["n"]
                / (
                    F.element_at(p, x["ia"])
                    + F.element_at(p, x["ib"])
                ),
            ),
        )
        s = F.aggregate(raw, F.lit(0.0), lambda a, b: a + b) / k.cast(
            "double"
        )
        return F.transform(raw, lambda v: v / s)

    fitted = one.select(
        "items",
        "w",
        "g",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(int(n_iter))),
            F.transform(idxs, lambda _: F.lit(1.0)),
            _iterate,
        ).alias("p"),
    )
    out = fitted.select(
        F.explode(
            F.transform(
                idxs,
                lambda i: F.struct(
                    F.element_at(F.col("items"), i).alias("item"),
                    F.round(F.element_at(F.col("p"), i), 6).alias(
                        "strength"
                    ),
                    F.element_at(F.col("w"), i)
                    .cast("bigint")
                    .alias("n_wins"),
                    F.element_at(F.col("g"), i)
                    .cast("bigint")
                    .alias("n_games"),
                ),
            )
        ).alias("r")
    ).select("r.item", "r.strength", "r.n_wins", "r.n_games")
    wr = W.orderBy(F.col("strength").desc(), "item")
    return out.withColumn(
        "rank", F.row_number().over(wr)
    ).select("item", "strength", "rank", "n_wins", "n_games")


def conformal_threshold_by_group(
    cal: DataFrame,
    evl: DataFrame,
    score_col: str,
    group_col: str,
    alphas_milli: tuple[int, ...] = (200, 100, 50),
) -> DataFrame:
    """Mondrian (group-conditional) split conformal: the
    :func:`conformal_threshold` machinery partitioned by a group
    column, giving the per-group coverage guarantee the global bound
    cannot (a global threshold over-covers easy groups and
    under-covers hard ones — exactly what class-conditional /
    per-language production bounds exist to fix).  Same pure-integer
    k arithmetic and histogram order statistics, now per (group,
    level); groups whose calibration side is too small for a level
    (k > n_cal) abstain with NULLs rather than fake a bound.

    Scale: one groupBy(group, score) on the calibration split, a
    per-group cumulative window over distinct scores, ONE scan of the
    eval split for all (group, level) pairs via a broadcast threshold
    table. Output: (group, alpha_milli, n_cal, k, threshold, n_eval,
    covered, coverage) ordered by (group, alpha_milli desc); a group
    appears only when BOTH splits contain it (no calibration -> no
    bound to report, no eval rows -> no coverage to measure).
    """
    hist = (
        cal.where(
            F.col(score_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("g"), F.col(score_col).alias("s"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wc = W.partitionBy("g").orderBy("s").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = hist.select("g", "s", F.sum("c").over(wc).alias("cum"))
    n_cal = hist.groupBy("g").agg(
        F.sum("c").cast("bigint").alias("n_cal")
    )
    al = cal.sparkSession.createDataFrame(
        [(int(a),) for a in alphas_milli], "alpha_milli int"
    )
    ks = n_cal.crossJoin(F.broadcast(al)).select(
        "g",
        "alpha_milli",
        "n_cal",
        F.expr(
            "((n_cal + 1) * (1000 - alpha_milli) + 999) DIV 1000"
        ).alias("k"),
    )
    # the cum side's group column is re-aliased before the non-equi
    # join: both g columns descend from the same hist attribute, so a
    # qualified drop() after the join is ambiguous and can remove the
    # wrong one (it silently nulled abstaining groups' keys)
    cumj = cum.select(
        F.col("g").alias("__cg"), "s", "cum"
    )
    thr = (
        ks.join(
            cumj,
            (F.col("g") == F.col("__cg"))
            & (F.col("cum") >= F.col("k")),
            "left",
        )
        .groupBy("g", "alpha_milli", "n_cal", "k")
        .agg(F.min("s").alias("threshold"))
    )
    ev = evl.where(
        F.col(score_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"), F.col(score_col).alias("es")
    )
    cov = (
        ev.join(F.broadcast(thr), "g")
        .groupBy("g", "alpha_milli", "n_cal", "k", "threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum((F.col("es") <= F.col("threshold")).cast("int"))
            .cast("bigint")
            .alias("covered"),
        )
    )
    feasible = F.col("k") <= F.col("n_cal")
    return (
        cov.select(
            F.col("g").alias(group_col),
            "alpha_milli",
            "n_cal",
            "k",
            F.when(feasible, F.col("threshold")).alias("threshold"),
            "n_eval",
            F.when(feasible, F.col("covered")).alias("covered"),
            F.when(
                feasible,
                F.round(
                    F.col("covered").cast("double")
                    / F.col("n_eval").cast("double"),
                    6,
                ),
            ).alias("coverage"),
        )
        .orderBy(group_col, F.col("alpha_milli").desc())
    )

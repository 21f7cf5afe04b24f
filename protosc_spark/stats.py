"""Distributed statistics via two-phase sufficient-statistics
aggregation — the engine's re-expression of the reference's in-memory
matrix math (north rule: "chi-square statistics, feature clustering
over the correlation matrix ... as two-phase treeAggregate of
per-partition sufficient statistics").

* :func:`chisquare_features` — per-feature Kruskal–Wallis H across the
  label classes (what the reference calls chi-square,
  protosc/model/utils.py:56-89, a per-feature scipy loop there).
  Here: posexplode to a (feature, value, class) count histogram ->
  per-(feature, class) doubled rank sums from one window over each
  feature's distinct values (:func:`_rank_sums`, shared with
  evaluation.kruskal_wallis and dunn_posthoc) -> final H on the driver
  from ~n_features*n_classes numbers. Exact parity with the
  tie-corrected scipy formula (numerics.kruskal_h).
* :func:`correlation_matrix` — Pearson feature x feature correlation
  from one pass of per-partition Gramian partials (n, sum x, X^T X)
  combined on the driver (tree-combine of numpy blocks). Matches
  np.corrcoef to allclose (reference protosc/feature_matrix.py:122-138
  computes np.corrcoef on the dense matrix).

Scale notes: the rank histogram shuffles distinct (feature, value,
class) cells, partitioned BY FEATURE — embarrassingly parallel across
features, which is the dimension that grows with extractor count. A task
holds one feature's distinct values, not its rows; a near-distinct
feature is as large there as its row count. The Gramian pass is map-side
only (no shuffle) and its partial size is p^2 doubles per partition,
independent of row count.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _rank_sums(hist: DataFrame, by: list[str]) -> DataFrame:
    """Kruskal–Wallis rank sufficient statistics off a value histogram.

    ``hist`` holds (*by, v, g, c): the count c (BIGINT) of rows with
    value v in group g, per ``by`` key. One window ordered by v within
    each ``by`` key carries two frames: the peer frame gives the pooled
    tie count t_v and the running frame the inclusive count up to v, so
    the DOUBLED midrank of v is 2 * upto - t_v + 1 (an exact integer).

    Returns per (*by, g) the columns ng (rows), r2g (sum of doubled
    midranks) and tie = sum of c * (t_v^2 - 1) — the group's share of
    sum_v (t_v^3 - t_v) — all DECIMAL(38,0). A task holds the distinct
    values of one ``by`` key, never its raw rows.
    """
    dec = "decimal(38,0)"
    w = W.partitionBy(*by).orderBy("v")
    c = F.col("c").cast(dec)
    t = F.sum(c).over(w.rangeBetween(W.currentRow, W.currentRow))
    upto = F.sum(c).over(w.rangeBetween(W.unboundedPreceding, W.currentRow))
    one = F.lit(1).cast(dec)
    ranked = hist.select(
        *by, "g", c.alias("c"), t.alias("t"),
        (F.lit(2).cast(dec) * upto - t + one).alias("r2v"),
    )
    return ranked.groupBy(*by, "g").agg(
        F.sum("c").alias("ng"),
        F.sum(F.col("c") * F.col("r2v")).alias("r2g"),
        F.sum(F.col("c") * (F.col("t") * F.col("t") - one)).alias("tie"),
    )


def chisquare_features(
    df: DataFrame,
    features_col: str = "features",
    label_col: str = "y",
    n_features: int | None = None,
    approx_rows: int | None = None,
) -> np.ndarray:
    """Kruskal–Wallis H per feature column of the array, distributed.

    Returns np.ndarray[n_features] of H statistics (tie-corrected).
    The per-(feature, value, class) histogram feeds :func:`_rank_sums`
    partitioned by feature; the driver computes H from
    n_features * n_classes rank sums (numerics.kruskal_h_from_stats).
    Constant features get H := 0 (see numerics.kruskal_h).
    ``approx_rows`` is accepted and ignored (older callers pass it).
    """
    from protosc_spark.numerics import kruskal_h_from_stats

    hist = (
        df.select(
            F.posexplode(F.col(features_col)).alias("fid", "v"),
            F.col(label_col).alias("g"),
        )
        .groupBy("fid", "v", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grp = _rank_sums(hist, ["fid"]).select(
        "fid",
        "g",
        F.col("ng").cast("double").alias("ng"),
        (F.col("r2g").cast("double") / F.lit(2.0)).alias("rsum"),
        F.col("tie").cast("double").alias("tie"),
    )
    grp_pdf = grp.toPandas().sort_values(["fid", "g"])

    if n_features is None:
        n_features = int(grp_pdf["fid"].max()) + 1
    out = np.full(n_features, np.nan)
    for fid, sub in grp_pdf.groupby("fid"):
        cnts = sub["ng"].to_numpy(dtype=np.float64)
        out[int(fid)] = kruskal_h_from_stats(
            sub["rsum"].to_numpy(dtype=np.float64),
            cnts,
            int(cnts.sum()),
            float(sub["tie"].sum()),
        )
    return out


def chisquare_features_grouped(
    df: DataFrame,
    col_groups: list[list[int]],
    features_col: str = "features",
    label_col: str = "y",
    n_classes: int | None = None,
) -> np.ndarray:
    """Kruskal–Wallis H per LOGICAL feature, where a feature owns the
    channel columns listed in its ``col_groups`` entry (the reference's
    rev_lookup_table col_ids, protosc/feature_matrix.py:20-27).

    Single-channel features return plain H (reference uses
    ``.statistic``, protosc/model/utils.py:84). Multi-channel features
    reproduce the reference's quirk EXACTLY (protosc/model/utils.py:
    70-78): per-channel (H, p) pairs are flattened by ``np.max`` — the
    max runs over statistics AND p-values together.

    Distribution: the per-column H pass is the same distributed ranking
    as :func:`chisquare_features`; p-values and the per-group max are
    driver-side on n_columns floats.
    """
    from protosc_spark.numerics import chi2_sf

    n_cols = 1 + max(c for g in col_groups for c in g)
    h_cols = chisquare_features(df, features_col, label_col, n_cols)
    if any(len(g) > 1 for g in col_groups) and n_classes is None:
        n_classes = df.select(label_col).distinct().count()
    out = np.empty(len(col_groups))
    for i, g in enumerate(col_groups):
        if len(g) == 1:
            out[i] = h_cols[g[0]]
        else:
            pairs = np.array(
                [[h_cols[c], chi2_sf(h_cols[c], n_classes - 1)] for c in g]
            )
            out[i] = np.max(pairs)  # the flattened tuple-max quirk
    return out


def corrcoef_guarded(X: np.ndarray) -> np.ndarray:
    """np.corrcoef with the engine's degenerate-case rule, shared by
    the numpy oracle path and tests: a ZERO-VARIANCE column correlates
    0 with everything (including itself) instead of NaN.

    The rule must live in ONE place: np.corrcoef emits NaN for a dead
    channel (common with real extractors — an all-black image region,
    a constant text feature) while the distributed Gramian path guards
    sd==0 -> divide by 1 -> corr 0 (correlation_matrix below); a NaN on
    one path poisons np.max inside blockmax_reduce and the two paths
    silently diverge. Mirrors the round-2 H := 0 fix for constant
    FEATURES (numerics.kruskal_h). Identical to np.corrcoef wherever
    that is finite.
    """
    with np.errstate(invalid="ignore", divide="ignore"):
        r = np.corrcoef(np.asarray(X, dtype=np.float64), rowvar=False)
    r = np.atleast_2d(r)
    # NaN appears exactly where a zero-variance column is involved
    # (its deviations are exactly 0 -> cov 0 -> 0/0); the Gramian path
    # computes 0/1 = 0 there.
    return np.nan_to_num(r, nan=0.0, posinf=0.0, neginf=0.0)


def blockmax_reduce(r_matrix: np.ndarray, cols_occ: list[int]) -> np.ndarray:
    """Reduce a column-level correlation matrix to feature level by
    taking the max over each feature-pair's channel block — verbatim
    reference semantics (protosc/feature_matrix.py:122-138). Shared by
    the distributed path and the numpy oracle."""
    n = len(cols_occ)
    cum = np.append([0], np.cumsum(cols_occ))
    out = np.zeros((n, n))
    for i in range(n):
        for j in range(n):
            out[i, j] = np.max(
                r_matrix[cum[i]:cum[i + 1], cum[j]:cum[j + 1]]
            )
    return out


def correlation_blockmax(
    df: DataFrame,
    feature_ids: np.ndarray,
    col_groups: list[list[int]],
    features_col: str = "features",
) -> np.ndarray:
    """Feature x feature correlation where each feature's channel block
    is reduced by max (reference FeatureMatrix.corrcoef). The Gramian
    runs over the EXPANDED channel columns of the selected features;
    the block reduce is a tiny driver loop."""
    expanded = [c for f in feature_ids for c in col_groups[int(f)]]
    r_cols = correlation_matrix(
        df.select(
            F.array(
                *[F.col(features_col)[c] for c in expanded]
            ).alias(features_col)
        ),
        features_col,
    )
    occ = [len(col_groups[int(f)]) for f in feature_ids]
    return blockmax_reduce(r_cols, occ)


def gramian_stats(
    df: DataFrame, features_col: str = "features"
) -> tuple[int, np.ndarray, np.ndarray]:
    """One distributed pass -> (n, sum_x[p], X^T X[p, p]).

    Per-Arrow-batch partials are computed with numpy inside
    ``mapInPandas`` (map-side only, no shuffle) and tree-combined on
    the driver by summation — the two-phase treeAggregate shape.
    """
    p = None

    def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[features_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "n": [X.shape[0]],
                    "p": [X.shape[1]],
                    "sx": [X.sum(axis=0).tolist()],
                    "sxx": [(X.T @ X).ravel().tolist()],
                }
            )

    rows = (
        df.select(features_col)
        .mapInPandas(
            partials, schema="n long, p int, sx array<double>, sxx array<double>"
        )
        .collect()
    )
    if not rows:
        raise ValueError("empty input")
    p = rows[0]["p"]
    n = sum(r["n"] for r in rows)
    sx = np.zeros(p)
    sxx = np.zeros((p, p))
    for r in rows:
        sx += np.asarray(r["sx"])
        sxx += np.asarray(r["sxx"]).reshape(p, p)
    return n, sx, sxx


def correlation_matrix(
    df: DataFrame, features_col: str = "features"
) -> np.ndarray:
    """Pearson correlation matrix from Gramian sufficient statistics.

    cov = (X^T X - n mu mu^T) / (n - 1); corr = cov / (sd sd^T) —
    numerically float64 throughout, allclose to np.corrcoef on the
    collected matrix (pinned in tests/test_stats.py).
    """
    n, sx, sxx = gramian_stats(df, features_col)
    mu = sx / n
    cov = (sxx - n * np.outer(mu, mu)) / (n - 1)
    sd = np.sqrt(np.diag(cov))
    sd = np.where(sd == 0, 1.0, sd)
    corr = cov / np.outer(sd, sd)
    np.clip(corr, -1.0, 1.0, out=corr)
    return corr


def correlation_submatrix(
    df: DataFrame, feature_ids: np.ndarray, features_col: str = "features"
) -> np.ndarray:
    """Correlation of a subset of array positions (used by clustering:
    only the ~selected features participate, so the Gramian is computed
    on the projected sub-array — less shuffle-free work, smaller
    partials)."""
    idx = [int(i) for i in feature_ids]
    sub = df.select(
        F.array(*[F.col(features_col)[i] for i in idx]).alias(features_col)
    )
    return correlation_matrix(sub, features_col)


def ols2_fit(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Two-predictor OLS fit y ~ b0 + b1*x1 + b2*x2 per group via
    EXACT integer normal equations — the multivariate companion to
    the engine's single-feature screens (windows.volume_trend is the
    p=1 case over daily series; this is the p=2 case over raw rows,
    the largest fit whose closed form stays one expression per
    coefficient).

    With centered cross-moments scaled by n (all exact integers
    when the inputs are integer-valued):

        A = n*Sx1x1 - Sx1^2    B = n*Sx1x2 - Sx1*Sx2
        C = n*Sx2x2 - Sx2^2    D = n*Sx1y  - Sx1*Sy
        E = n*Sx2y  - Sx2*Sy   T = n*Syy   - Sy^2

        b1 = (C*D - B*E) / (A*C - B^2)
        b2 = (A*E - B*D) / (A*C - B^2)
        b0 = (Sy - b1*Sx1 - b2*Sx2) / n
        r2 = (b1*D + b2*E) / T

    Every numerator/denominator above is an exact DECIMAL(38,0)
    product of map-side-combined integer sums — order-independent at
    any parallelism; b1/b2 are each ONE float division of exact
    integers, b0/r2 one float expression of them. Inputs MUST be
    integer-valued (cast upstream; quantize floats to fixed-point
    first) — that is what keeps the normal equations exact.

    Scale shape: one raw scan into 9 map-side-combined sums per
    group — no shuffle beyond the |groups|-sized aggregate; the
    solve is arithmetic on that row. Output: (group?, n, b0, b1,
    b2, r2); coefficients NULL when the design is collinear
    (A*C = B^2) or n < 3, r2 NULL additionally when y is constant."""
    dec = "decimal(38,0)"
    y = F.col(y_col).cast(dec)
    x1 = F.col(x1_col).cast(dec)
    x2 = F.col(x2_col).cast(dec)
    keys = [group_col] if group_col else []
    g = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum(x1).alias("__s1"),
        F.sum(x2).alias("__s2"),
        F.sum(y).alias("__sy"),
        F.sum(x1 * x1).alias("__s11"),
        F.sum(x2 * x2).alias("__s22"),
        F.sum(x1 * x2).alias("__s12"),
        F.sum(x1 * y).alias("__s1y"),
        F.sum(x2 * y).alias("__s2y"),
        F.sum(y * y).alias("__syy"),
    )
    n = F.col("__n")
    A = n * F.col("__s11") - F.col("__s1") * F.col("__s1")
    B = n * F.col("__s12") - F.col("__s1") * F.col("__s2")
    C = n * F.col("__s22") - F.col("__s2") * F.col("__s2")
    D = n * F.col("__s1y") - F.col("__s1") * F.col("__sy")
    E = n * F.col("__s2y") - F.col("__s2") * F.col("__sy")
    T = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    det = A * C - B * B
    b1 = (C * D - B * E).cast("double") / det.cast("double")
    b2 = (A * E - B * D).cast("double") / det.cast("double")
    b0 = (
        F.col("__sy").cast("double")
        - b1 * F.col("__s1").cast("double")
        - b2 * F.col("__s2").cast("double")
    ) / n.cast("double")
    r2 = (b1 * D.cast("double") + b2 * E.cast("double")) / T.cast(
        "double"
    )
    ok = (det != 0) & (n >= 3)
    return g.select(
        *keys,
        n.cast("bigint").alias("n"),
        F.when(ok, b0).alias("b0"),
        F.when(ok, b1).alias("b1"),
        F.when(ok, b2).alias("b2"),
        F.when(ok & (T > 0), r2).alias("r2"),
    )


def partial_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """First-order partial correlation r_xy.z — "are x and y still
    related once z is held fixed?", the confounder check beside
    :func:`ols2_fit` (the regression gives slopes; this gives the
    single number reviewers ask for):

        r_xy.z = (r_xy - r_xz r_yz)
                 / sqrt((1 - r_xz^2)(1 - r_yz^2))

    with each pairwise r the usual integer cross-moment ratio
    (n S_ab - S_a S_b over the sqrt product of the centered
    squares). Significance via the Fisher transform
    z = atanh(r) sqrt(n - 4) written as the ln closed form
    0.5 ln((1+r)/(1-r)) — no erf, no lookup, SQL-replayable.

    Exactness: ONE aggregation collects all nine moments as exact
    DECIMAL(38,0); every r and the final statistic are closed float
    expressions of those integers. Rows with any NULL are dropped.
    Output: one row (n, r_xy, r_xz, r_yz, partial_r, z,
    significant); NULL partial when any marginal is degenerate or
    either control correlation is +-1; z NULL below n = 5."""
    dec = "decimal(38,0)"
    x = F.col(x_col).cast(dec)
    y = F.col(y_col).cast(dec)
    z = F.col(z_col).cast(dec)
    ok_row = (
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(z_col).isNotNull()
    )
    g = df.where(ok_row).agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(z).alias("__sz"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
        F.sum(z * z).alias("__szz"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * z).alias("__sxz"),
        F.sum(y * z).alias("__syz"),
    )
    n = F.col("__n")

    def r(ab, aa, bb, a, b):
        cov = (n * F.col(ab) - F.col(a) * F.col(b)).cast("double")
        va = (n * F.col(aa) - F.col(a) * F.col(a)).cast("double")
        vb = (n * F.col(bb) - F.col(b) * F.col(b)).cast("double")
        # ANSI-safe: a zero denominator yields NULL, never an error
        # (when-guards don't protect hoisted common subexpressions)
        d = F.sqrt(va) * F.sqrt(vb)
        return cov / F.when(d != 0, d)

    rxy = r("__sxy", "__sxx", "__syy", "__sx", "__sy")
    rxz = r("__sxz", "__sxx", "__szz", "__sx", "__sz")
    ryz = r("__syz", "__syy", "__szz", "__sy", "__sz")
    den = F.sqrt(
        (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)
    )
    pr = (rxy - rxz * ryz) / F.when(den != 0, den)
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    vz = n * F.col("__szz") - F.col("__sz") * F.col("__sz")
    ok = (vx > 0) & (vy > 0) & (vz > 0) & (den > 0)
    fish = (
        F.lit(0.5)
        * F.log(
            (F.lit(1.0) + pr)
            / F.when(F.lit(1.0) - pr != 0, F.lit(1.0) - pr)
        )
        * F.sqrt((n - F.lit(4).cast(dec)).cast("double"))
    )
    okz = ok & (n >= F.lit(5).cast(dec)) & (F.abs(pr) < 1)
    return g.select(
        n.cast("bigint").alias("n"),
        F.when(ok, rxy).alias("r_xy"),
        F.when(ok, rxz).alias("r_xz"),
        F.when(ok, ryz).alias("r_yz"),
        F.when(ok, pr).alias("partial_r"),
        F.when(okz, fish).alias("z"),
        F.when(okz, F.abs(fish) > F.lit(1.959963984540054)).alias(
            "significant"
        ),
    )


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    trim_milli: int = 50,
) -> DataFrame:
    """EXACT trimmed and winsorized means per group — the robust
    location statistics beside the sketch-based median/MAD
    (mad_robust_stats approximates; this is the zero-error path off
    the value histogram, the quantiles_exact shape): drop (trimmed)
    or clamp (winsorized) the lowest and highest t rows, where
    t = n * trim_milli DIV 1000 (pure integer — ``trim_milli`` is
    the trim fraction in thousandths, 50 = 5% each side).

    Every sufficient statistic is exact: per distinct value, the
    kept multiplicity is the integer interval overlap
    max(0, min(cum, n-t) - max(prev, t)); boundary values come from
    the same cumulative bracket as quantiles_exact; each mean is
    ONE division of exact DECIMAL sums. Order-independent,
    SQL-replayable.

    Scale shape: one map-side-combined groupBy(group, value); one
    distinct-value window per group; a |groups|-sized rollup.
    Output: (group?, n, n_trim_side, trimmed_mean,
    winsorized_mean); NULL means when the trim leaves nothing
    (n <= 2t)."""
    dec = "decimal(38,0)"
    keys = [group_col] if group_col else []
    v = F.col(value_col).cast("bigint")
    hist = (
        df.where(v.isNotNull())
        .groupBy(*keys, v.alias("__v"))
        .agg(F.count(F.lit(1)).cast(dec).alias("__c"))
    )
    w = (
        W.partitionBy(*keys)
        .orderBy("__v")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = hist.select(
        *keys,
        "__v",
        "__c",
        F.sum("__c").over(w).alias("__cum"),
        (F.sum("__c").over(w) - F.col("__c")).alias("__prev"),
    )
    tot = hist.groupBy(*keys).agg(F.sum("__c").alias("__n"))
    tq = tot.select(
        *keys,
        "__n",
        F.expr(f"__n * {int(trim_milli)} DIV 1000").alias("__t"),
    )
    j = cum.join(tq, keys or None) if keys else cum.crossJoin(
        F.broadcast(tq)
    )
    lo_kept = F.greatest(F.col("__prev"), F.col("__t"))
    hi_kept = F.least(
        F.col("__cum"), F.col("__n") - F.col("__t")
    )
    kept = F.greatest(
        hi_kept - lo_kept, F.lit(0).cast(dec)
    )
    vlo_rank = F.col("__t") + 1
    vhi_rank = F.col("__n") - F.col("__t")
    bracket_lo = (F.col("__cum") >= vlo_rank) & (
        F.col("__prev") < vlo_rank
    )
    bracket_hi = (F.col("__cum") >= vhi_rank) & (
        F.col("__prev") < vhi_rank
    )
    g = j.groupBy(*keys).agg(
        F.max("__n").alias("__n"),
        F.max("__t").alias("__t"),
        F.sum(F.col("__v").cast(dec) * kept).alias("__s"),
        F.sum(kept).alias("__k"),
        F.min(F.when(bracket_lo, F.col("__v"))).alias("__vlo"),
        F.min(F.when(bracket_hi, F.col("__v"))).alias("__vhi"),
    )
    ok = F.col("__k") > 0
    tm = F.col("__s").cast("double") / F.col("__k").cast("double")
    wm = (
        F.col("__s")
        + F.col("__t") * F.col("__vlo").cast(dec)
        + F.col("__t") * F.col("__vhi").cast(dec)
    ).cast("double") / F.col("__n").cast("double")
    return g.select(
        *keys,
        F.col("__n").cast("bigint").alias("n"),
        F.col("__t").cast("bigint").alias("n_trim_side"),
        F.when(ok, tm).alias("trimmed_mean"),
        F.when(ok, wm).alias("winsorized_mean"),
    )


def pca_components(
    df: DataFrame,
    features_col: str = "embedding",
    k: int = 8,
    unit: int = 10**6,
) -> "pd.DataFrame":
    """Principal components of a vector column by EXACT distributed
    sufficient statistics — the canonical feature-matrix operation
    the reference's correlation machinery points at (protosc
    feature_matrix.py:122-138 builds the corr matrix; PCA is the
    same Gramian put to work): one map-side pass computes integer
    partials of n, sum x and X^T X with vectors QUANTIZED once to
    1/``unit`` units, the dim^2 cells are summed exactly in
    DECIMAL(38,0) (order-independent at ANY parallelism — the float
    treeAggregate tail-drift that plagues naive PCA cannot happen),
    and the driver eigendecomposes the exact covariance

        C = (n * G - s s^T) / (n^2 * unit^2)

    (population convention). Eigenvalues of the quantized C are the
    PCA of the quantized data, exactly — the house quantization
    contract. Driver cost is dim^2 integers; executor cost one BLAS
    rank-k update per Arrow batch.

    Returns a pandas DataFrame (component 1-based, eigenvalue,
    explained_ratio, cum_ratio) for the top ``k`` components,
    eigenvalues descending."""
    import pandas as pd  # noqa: F811

    def partials(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.array(
                pdf[features_col].tolist(), dtype=np.float64
            )
            Q = np.floor(X * float(unit)).astype(np.int64)
            # int64 BLAS-shaped matmul: exact while
            # batch_rows * (max|x| * unit)^2 < 2^63 — for unit 1e6
            # and |x| <= 3 that is ~9e16 per 10k-row Arrow batch,
            # three orders inside the envelope; partials cross
            # batches as DECIMAL strings
            G = Q.T @ Q
            s = Q.sum(axis=0)
            d = Q.shape[1]
            ii, jj = np.meshgrid(
                np.arange(d), np.arange(d), indexing="ij"
            )
            out = pd.DataFrame(
                {
                    "i": ii.ravel().tolist() + list(range(d)) + [-1],
                    "j": jj.ravel().tolist() + [-1] * d + [-1],
                    "v": [str(x) for x in G.ravel().tolist()]
                    + [str(x) for x in s.tolist()]
                    + [str(Q.shape[0])],
                }
            )
            yield out

    cells = (
        df.select(features_col)
        .mapInPandas(partials, schema="i int, j int, v string")
        .groupBy("i", "j")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("v"))
        .collect()
    )
    if not cells:
        raise ValueError("empty input")
    d = max(r["i"] for r in cells) + 1
    G = np.zeros((d, d), dtype=object)
    s = np.zeros(d, dtype=object)
    n = 0
    for r in cells:
        v = int(r["v"])
        if r["i"] == -1:
            n = v
        elif r["j"] == -1:
            s[r["i"]] = v
        else:
            G[r["i"], r["j"]] = v
    cov_num = n * G - np.outer(s, s)
    cov = cov_num.astype(np.float64) / (
        float(n) * float(n) * float(unit) * float(unit)
    )
    evals = np.linalg.eigvalsh(cov)[::-1]
    trace = float(np.trace(cov))
    top = evals[:k]
    ratios = [float(e) / trace for e in top]
    return pd.DataFrame(
        {
            "component": list(range(1, len(top) + 1)),
            "eigenvalue": [float(e) for e in top],
            "explained_ratio": ratios,
            "cum_ratio": np.cumsum(ratios).tolist(),
        }
    )

"""Distributed FilterModel — the parity-critical path (reference
protosc/model/filter.py:6-22 + protosc/model/base.py:36-85).

Per fold:
  1. chi-square (Kruskal–Wallis H) per feature — DISTRIBUTED rank
     aggregation (stats.chisquare_features)
  2. correlation of the surviving features — DISTRIBUTED Gramian
     sufficient statistics (stats.correlation_submatrix)
  3. selection logic on those tiny statistics — driver (select.py,
     shared verbatim with the numpy oracle)
  4. classifier accuracy + 100-permutation null distribution on the
     COLLECTED selected submatrix (a few dozen columns; the reference
     collects the full matrix by construction — we collect only the
     selection), via the same shared numerics.

Folds are column filters over one cached DataFrame, not data copies
(the reference copies rows per fold, protosc/feature_matrix.py:290-292).

Engine output equals oracle/numpy_model.py output feature-ID-exact:
the distributed statistics are quantized to 1e-9 before the sort/
threshold decisions, which collapses float-summation-order noise
between backends (tests/test_filter_model.py pins this).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from protosc_spark.folds import with_fold_id
from protosc_spark.numerics import linear_classifier_accuracy
from protosc_spark.oracle.numpy_model import (
    null_accuracy_distribution,
    quantize,
)
from protosc_spark.select import final_feature_selection, select_from_stats
from protosc_spark.stats import (
    chisquare_features,
    chisquare_features_grouped,
    correlation_blockmax,
    correlation_submatrix,
)


def _collect_submatrix(df: DataFrame, feature_ids, key_col: str, col_groups=None):
    """Collect (X[:, selected], y) ordered by the stable sample key —
    the same convention the oracle uses, so permutation nulls see the
    same row order. With ``col_groups``, a selected logical feature
    expands to all its channel columns (reference get_slice expansion,
    protosc/feature_matrix.py:140-177)."""
    if col_groups is None:
        idx = [int(i) for i in feature_ids]
    else:
        idx = [int(c) for f in feature_ids for c in col_groups[int(f)]]
    pdf = (
        df.select(
            key_col,
            F.col("y"),
            F.array(*[F.col("features")[i] for i in idx]).alias("sub"),
        )
        .orderBy(key_col)
        .toPandas()
    )
    X = np.array(pdf["sub"].tolist(), dtype=np.float64)
    return X, pdf["y"].to_numpy()


# Below this many matrix cells the whole problem collects to the
# driver (5M doubles = 40 MB) and runs the SHARED numpy math in one
# process — Spark job scheduling would dominate otherwise (measured:
# 500x1000 reference config is 6.6 s local vs 164 s as 32 toy Spark
# jobs vs the reference's own 22.6 s). Identical output by
# construction: the local path IS the parity oracle the distributed
# path is pinned against feature-ID-exact (tests/test_filter_model.py).
LOCAL_CELLS_MAX = 5_000_000


class FilterModel:
    """Chi-square filter selection with cross-fold significance."""

    def __init__(self, n_fold: int = 8, local_cells_max: int = LOCAL_CELLS_MAX):
        self.n_fold = n_fold
        self.local_cells_max = local_cells_max
        self.interim = None

    def execute(
        self,
        df: DataFrame,
        key_col: str = "sample_id",
        n_features: int | None = None,
        fold_seed: int | None = None,
        seed: int = 0,
        col_groups: list[list[int]] | None = None,
        mode: str = "auto",
    ) -> list[int]:
        """df: (key_col, features array<double>, y int). Returns the
        final selected feature ids.

        ``col_groups`` (optional): logical-feature -> channel columns,
        from FeatureRegistry entries' col_ids. Multi-channel features
        use the reference's chi-square tuple-max and corrcoef
        channel-block-max semantics; selection / ids operate on LOGICAL
        features.

        ``mode``: "auto" collects matrices under ``local_cells_max``
        cells and runs the shared numpy math in-process (same result,
        no Spark job overhead at model-selection scale); "distributed"
        forces the Spark statistics path; "local" forces the collect."""
        n_columns = len(df.select("features").first()[0])
        if col_groups is not None:
            n_features = len(col_groups)
        elif n_features is None:
            n_features = n_columns
        if mode not in ("auto", "local", "distributed"):
            raise ValueError(mode)
        if mode != "distributed":
            n_rows = df.count()
            if mode == "local" or n_rows * n_columns <= self.local_cells_max:
                return self._execute_local(
                    df, key_col, fold_seed, seed, col_groups
                )
        df = with_fold_id(
            df, key_col, label_col="y", k=self.n_fold, fold_seed=fold_seed
        ).cache()
        df.count()

        rng = np.random.default_rng(seed)
        fold_seeds = [int(rng.integers(0, 2**31 - 1)) for _ in range(self.n_fold)]

        fold_results, null_dists = [], []
        for i in range(self.n_fold):
            train = df.where((F.col("fold_id") >= 0) & (F.col("fold_id") != i))
            val = df.where(F.col("fold_id") == i)
            n_train = train.count()

            if col_groups is None:
                chisq = quantize(
                    chisquare_features(train, "features", "y", n_features)
                )
                corr = lambda fs, _t=train: quantize(  # noqa: E731
                    correlation_submatrix(_t, fs)
                )
            else:
                chisq = quantize(
                    chisquare_features_grouped(train, col_groups, "features", "y")
                )
                corr = lambda fs, _t=train: quantize(  # noqa: E731
                    correlation_blockmax(_t, fs, col_groups)
                )
            selected, _ = select_from_stats(
                chisq, corr, n_samples=n_train
            )
            X_tr, y_tr = _collect_submatrix(train, selected, key_col, col_groups)
            X_va, y_va = _collect_submatrix(val, selected, key_col, col_groups)
            acc = linear_classifier_accuracy(X_tr, y_tr, X_va, y_va)
            fold_results.append({"features": selected, "accuracy": acc})
            null_dists.append(
                null_accuracy_distribution(X_tr, y_tr, X_va, y_va, fold_seeds[i])
            )

        self.interim = {"fold_results": fold_results, "null_distributions": null_dists}
        df.unpersist()
        return final_feature_selection(fold_results, null_dists)

    def _execute_local(
        self, df: DataFrame, key_col: str, fold_seed, seed, col_groups
    ) -> list[int]:
        """Small-data path: one collect, then the shared numpy pipeline
        (oracle_filter_model — the exact code the distributed path is
        parity-pinned against)."""
        from protosc_spark.oracle.numpy_model import oracle_filter_model

        pdf = df.select(key_col, "features", "y").orderBy(key_col).toPandas()
        X = np.array(pdf["features"].tolist(), dtype=np.float64)
        y = pdf["y"].to_numpy()
        res = oracle_filter_model(
            X, y, n_fold=self.n_fold, fold_seed=fold_seed, seed=seed,
            col_groups=col_groups,
        )
        self.interim = {
            "fold_results": res["fold_results"],
            "null_distributions": res["null_distributions"],
        }
        return res["selected"]

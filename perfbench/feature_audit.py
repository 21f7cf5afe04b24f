"""feature_audit: the post-build audit over a feature matrix taken from
the flagship output. No windows, as-of or writes run in the timed op, so
the statistics layers do almost all the work. One op is three parts:

(a) ``FilterModel.execute`` in auto mode on a matrix with a planted-signal
    label, sized just above the model's local-collect threshold so the
    distributed ``folds`` / ``stats`` / ``select`` path runs;
(b) the drift family (``evaluation`` KS, Kuiper, CvM, AD, W1 and
    ``sketches.psi_by_group``) between two hash cohorts, on one column
    with about as many distinct values as rows and on one low-cardinality
    integer column;
(c) the reference FilterModel config: 500 x 1000, 8 folds, data seed
    1928374, against the reference implementation's 22.6 s.

The continuous column is where a shared value-CDF rewrite of the drift
family shows; the low-cardinality column catches a rewrite that slows
the common case.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import probe

N_CONVERSATIONS = 300
# Part (a): a matrix of A_ROWS x A_COLUMNS cells, just above A_CELLS_MAX,
# the collect-locally threshold passed to FilterModel. The model's own
# default (LOCAL_CELLS_MAX, 5M cells) would need about 125k rows, whose
# distributed run takes about a minute on 4 cores: too long to repeat
# inside one benchmark run.
A_ROWS = 2600
A_COLUMNS = 40
A_CELLS_MAX = 100_000
A_FOLDS = 2
# the audited frames are spread over this many partitions, as a table
# would be; a one-partition frame lets Spark skip every shuffle
PARTITIONS = 8
REF_DATA_SEED = 1928374
REF_FOLDS = 8
PSI_FLOOR = 1e-6
DRIFT = ("ks", "kuiper", "cvm", "ad", "w1")


def _drift_fns():
    from protosc_spark import evaluation as ev
    from protosc_spark.sketches import psi_by_group

    return {
        "ks": lambda df, c: ev.ks_two_sample(df, c, "g"),
        "kuiper": lambda df, c: ev.kuiper_two_sample(df, c, "g"),
        "cvm": lambda df, c: ev.cvm_two_sample(df, c, "g"),
        "ad": lambda df, c: ev.ad_two_sample(df, c, "g"),
        "w1": lambda df, c: ev.wasserstein_by_group(df, c, "g"),
        "psi": lambda df, c: psi_by_group(df, "g", c),
    }


class FeatureAudit:
    def __init__(self, spark, work: str, seed: int, spans) -> None:
        self.spark, self.work, self.seed, self.spans = spark, work, seed, spans
        self.sizes = {
            "conversations": N_CONVERSATIONS,
            "a_rows": A_ROWS, "a_columns": A_COLUMNS,
            "a_cells_max": A_CELLS_MAX, "a_folds": A_FOLDS,
            "ref_shape": [500, 1000], "ref_folds": REF_FOLDS,
        }

    # -- set-up -------------------------------------------------------------

    def make_inputs(self) -> None:
        from protosc_spark.oracle.simulation import make_correlated

        self.input = os.path.join(self.work, "input")
        shutil.rmtree(self.input, ignore_errors=True)
        gen.write(gen.transcripts(N_CONVERSATIONS, self.seed),
                  os.path.join(self.input, "transcripts"))
        gen.write(gen.updates(N_CONVERSATIONS, self.seed),
                  os.path.join(self.input, "updates"))
        np.random.seed(REF_DATA_SEED)
        self.ref_X, self.ref_y, _ = make_correlated()
        os.makedirs(os.path.join(self.input, "reference"))
        pq.write_table(pa.table({
            "sample_id": pa.array(np.arange(len(self.ref_y)), pa.int64()),
            "features": pa.array(list(self.ref_X), pa.list_(pa.float64())),
            "y": pa.array(self.ref_y, pa.int32()),
        }), os.path.join(self.input, "reference", "part-00000.parquet"))

    def warm_up(self) -> None:
        """Build the audited frames from one flagship pass and compute the
        expected side of every check (numpy and the local model path).

        The op itself is not run here, so the first repetition of a run
        still compiles part of its code (see README)."""
        from pyspark.sql import functions as F

        from protosc_spark.models.filter_model import FilterModel
        from protosc_spark.oracle.numpy_model import oracle_filter_model
        from protosc_spark.pipeline import flagship_features

        spark = self.spark
        tr = spark.read.parquet(os.path.join(self.input, "transcripts"))
        up = spark.read.parquet(os.path.join(self.input, "updates"))
        out, reg = flagship_features(tr, up)
        lo_col = next(e["col_ids"][0] for e in reg.entries
                      if e["feature_id"].endswith("prev_n_tokens"))
        feats = out.select(
            F.xxhash64("conv_id", "turn_idx").alias("sample_id"),
            "conv_id", "ts", "features",
        ).localCheckpoint(eager=True)

        # (a) planted signal: the label follows two standardised features
        # plus uniform noise, so the selection is non-empty
        f0, f1 = F.col("features")[0], F.col("features")[lo_col]
        st = feats.agg(F.mean(f0), F.stddev(f0), F.mean(f1), F.stddev(f1)).first()
        noise = F.pmod(F.xxhash64(F.lit(self.seed), "sample_id"), F.lit(1000)) / 500.0 - 1.0
        score = (f0 - st[0]) / st[1] + (f1 - st[2]) / st[3] + noise
        self.matrix = (
            feats.orderBy("sample_id").limit(A_ROWS)
            .select("sample_id",
                    F.slice("features", 1, A_COLUMNS).alias("features"),
                    (score > 0).cast("int").alias("y"))
            .repartition(PARTITIONS, "sample_id")
            .localCheckpoint(eager=True)
        )
        if self.matrix.select("sample_id").distinct().count() != A_ROWS:
            raise RuntimeError("sample_id collision in the audit matrix")
        self.expected_a = FilterModel(n_fold=A_FOLDS).execute(
            self.matrix, mode="local", fold_seed=self.seed, seed=0)

        # (b) cohorts by conversation hash; ts seconds are near-distinct,
        # prev_n_tokens + 2 is a small positive integer
        self.drift = feats.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(2)).cast("int").alias("g"),
            F.col("ts").cast("long").alias("cont"),
            (F.col("features")[lo_col] + 2).cast("long").alias("low"),
        ).repartition(PARTITIONS).localCheckpoint(eager=True)
        pdf = self.drift.toPandas()
        g = pdf["g"].to_numpy()
        self.expected_b = {
            col: numpy_drift(pdf[col].to_numpy(np.int64), g)
            for col in ("cont", "low")
        }
        self.sizes.update(
            turns=out.count(), drift_rows=len(pdf),
            drift_distinct_cont=int(pdf["cont"].nunique()),
            drift_distinct_low=int(pdf["low"].nunique()),
        )

        # (c) the reference config, as in bench.py
        self.ref = spark.read.parquet(
            os.path.join(self.input, "reference")).localCheckpoint(eager=True)
        self.expected_c = oracle_filter_model(
            self.ref_X, self.ref_y, n_fold=REF_FOLDS, fold_seed=self.seed,
            seed=0)["selected"]

    # -- one repetition -----------------------------------------------------

    def _part_a(self):
        from protosc_spark.models.filter_model import FilterModel

        return FilterModel(n_fold=A_FOLDS, local_cells_max=A_CELLS_MAX).execute(
            self.matrix, mode="auto", fold_seed=self.seed, seed=0)

    def _part_c(self):
        from protosc_spark.models.filter_model import FilterModel

        return FilterModel(n_fold=REF_FOLDS).execute(
            self.ref, mode="auto", fold_seed=self.seed, seed=0)

    def _check(self, sel_a, drift, sel_c) -> list[str]:
        problems = []
        if not sel_a or sorted(sel_a) != sorted(self.expected_a):
            problems.append(f"(a) selected {sel_a}, local path {self.expected_a}")
        for col, stats in drift.items():
            problems += compare_drift(col, stats, self.expected_b[col])
        if not sel_c or sorted(sel_c) != sorted(self.expected_c):
            problems.append(f"(c) selected {sel_c}, numpy oracle {self.expected_c}")
        return problems

    def rep(self):
        fns = _drift_fns()
        t0 = time.perf_counter()
        sel_a = self._part_a()
        t1 = time.perf_counter()
        drift = {col: {name: [r.asDict() for r in fns[name](self.drift, col).collect()]
                       for name in (*DRIFT, "psi")}
                 for col in ("cont", "low")}
        t2 = time.perf_counter()
        sel_c = self._part_c()
        t3 = time.perf_counter()
        rec = {"op_s": t3 - t0, "select_s": t1 - t0, "drift_s": t2 - t1,
               "filter_ref_s": t3 - t2, "selected_a": sel_a}
        return rec, self._check(sel_a, drift, sel_c)

    def traced_rep(self):
        """Part (a) through the public functions, called as
        ``FilterModel.execute`` calls them on its distributed path; each
        drift call in its own span; part (c) as one span."""
        sp, spark = self.spans, self.spark
        t = {k: 0.0 for k in ("folds", "chisq", "corr", "select", "rest")}
        acc = {"stats_jobs": 0, "stats_shuffle_mb": 0.0}
        with sp.span("feature_audit.select") as whole_a:
            sel_a = self._traced_filter_model(t, acc)
        fns = _drift_fns()
        drift, per_fn, share = {}, {k: 0.0 for k in (*DRIFT, "psi")}, 0.0
        with sp.span("feature_audit.drift") as whole_b:
            for col in ("cont", "low"):
                drift[col] = {}
                for name in (*DRIFT, "psi"):
                    with sp.span(f"evaluation.{name}.{col}", spark,
                                 task_detail=True) as s:
                        drift[col][name] = [r.asDict() for r in fns[name](self.drift, col).collect()]
                    per_fn[name] += s.wall_s
                    if name != "psi":
                        share = max(share, s.meter.result["max_task_share"])
        with sp.span("feature_audit.filter_ref") as whole_c:
            sel_c = self._part_c()
        rec = {
            **{f"{k}_s": v for k, v in t.items()},
            **{f"drift_{k}_s": v for k, v in per_fn.items()},
            **acc,
            "max_task_share": share,
            "part_c_s": whole_c.wall_s,
            "op_s": whole_a.wall_s + whole_b.wall_s + whole_c.wall_s,
        }
        return rec, self._check(sel_a, drift, sel_c)

    def _traced_filter_model(self, t: dict, acc: dict) -> list[int]:
        """FilterModel.execute's distributed path, step for step, with
        each layer call timed (``mode="auto"`` above the threshold)."""
        from pyspark.sql import functions as F

        from protosc_spark.folds import with_fold_id
        from protosc_spark.models.filter_model import _collect_submatrix
        from protosc_spark.numerics import linear_classifier_accuracy
        from protosc_spark.oracle.numpy_model import (
            null_accuracy_distribution,
            quantize,
        )
        from protosc_spark.select import final_feature_selection, select_from_stats
        from protosc_spark.stats import chisquare_features, correlation_submatrix

        sp, spark = self.spans, self.spark
        with sp.span("models.count") as s:
            n_columns = len(self.matrix.select("features").first()[0])
            self.matrix.count()
        t["rest"] += s.wall_s
        with sp.span("folds.with_fold_id") as s:
            df = with_fold_id(self.matrix, "sample_id", label_col="y", k=A_FOLDS,
                              fold_seed=self.seed).cache()
            df.count()
        t["folds"] += s.wall_s
        rng = np.random.default_rng(0)
        fold_seeds = [int(rng.integers(0, 2**31 - 1)) for _ in range(A_FOLDS)]
        fold_results, null_dists = [], []
        for i in range(A_FOLDS):
            train = df.where((F.col("fold_id") >= 0) & (F.col("fold_id") != i))
            val = df.where(F.col("fold_id") == i)
            with sp.span("models.count") as s:
                n_train = train.count()
            t["rest"] += s.wall_s
            with sp.span("stats.chisquare_features", spark) as s:
                chisq = quantize(chisquare_features(
                    train, "features", "y", n_columns, approx_rows=n_train))
            t["chisq"] += s.wall_s
            acc["stats_jobs"] += s.meter.result["jobs"]
            acc["stats_shuffle_mb"] += s.meter.result["shuffle_write_mb"]
            corr_s = []

            def corr(fs, _t=train):
                with sp.span("stats.correlation_submatrix", spark) as c:
                    r = quantize(correlation_submatrix(_t, fs))
                corr_s.append(c.wall_s)
                acc["stats_jobs"] += c.meter.result["jobs"]
                acc["stats_shuffle_mb"] += c.meter.result["shuffle_write_mb"]
                return r

            with sp.span("select.select_from_stats") as s:
                selected, _ = select_from_stats(chisq, corr, n_samples=n_train)
            t["corr"] += sum(corr_s)
            t["select"] += s.wall_s - sum(corr_s)
            with sp.span("models.classifier") as s:
                X_tr, y_tr = _collect_submatrix(train, selected, "sample_id")
                X_va, y_va = _collect_submatrix(val, selected, "sample_id")
                fold_results.append({
                    "features": selected,
                    "accuracy": linear_classifier_accuracy(X_tr, y_tr, X_va, y_va),
                })
                null_dists.append(null_accuracy_distribution(
                    X_tr, y_tr, X_va, y_va, fold_seeds[i]))
            t["rest"] += s.wall_s
        df.unpersist()
        with sp.span("select.final_feature_selection") as s:
            out = final_feature_selection(fold_results, null_dists)
        t["select"] += s.wall_s
        return out

    # -- metrics ------------------------------------------------------------

    def end_to_end(self, reps: list[dict]) -> dict:
        op = probe.median([r["op_s"] for r in reps])
        return {"op_s": (op, "s"),
                "turns_per_s": (self.sizes["drift_rows"] / op, "turns/s")}

    def extra_metrics(self, reps: list[dict]) -> dict:
        return {k: (probe.median([r[k] for r in reps]), "s")
                for k in ("select_s", "drift_s", "filter_ref_s")}

    def layer_metrics(self, traced: list[dict], untraced: list[dict]) -> dict:
        def med(key):
            return probe.median([t[key] for t in traced])

        out = {
            "folds.wall_s": (med("folds_s"), "s"),
            "stats.chisq_s": (med("chisq_s"), "s"),
            "stats.corr_s": (med("corr_s"), "s"),
            "select.wall_s": (med("select_s"), "s"),
            "models.rest_s": (med("rest_s"), "s"),
            "stats.jobs": (med("stats_jobs"), "count"),
            "stats.shuffle_write_mb": (med("stats_shuffle_mb"), "MB"),
            "evaluation.max_task_share": (med("max_task_share"), "ratio"),
            "sketches.psi_s": (med("drift_psi_s"), "s"),
        }
        for name in DRIFT:
            out[f"evaluation.{name}_s"] = (med(f"drift_{name}_s"), "s")
        op_traced = med("op_s")
        op_plain = probe.median([r["op_s"] for r in untraced]) if untraced else op_traced
        self_total = sum(v for k, (v, u) in out.items() if u == "s")
        out.update({
            "op_traced_s": (op_traced, "s"),
            "trace_overhead_s": (op_traced - op_plain, "s"),
            "unattributed_s": (op_plain - self_total - med("part_c_s"), "s"),
        })
        return out


# --- numpy references for the drift family ---------------------------------


def _hdr_bucket(x: np.ndarray, s: int) -> np.ndarray:
    e = np.array([int(v).bit_length() - 1 for v in x])
    shift = e - s
    m = np.floor(x / np.power(2.0, shift)).astype(np.int64)
    return np.where(e <= s, x, shift.astype(np.int64) * (1 << s) + m)


def numpy_drift(v: np.ndarray, g: np.ndarray) -> dict:
    """KS, Kuiper, CvM, AD, W1 (group 1 against group 0) and PSI per
    group, from their textbook definitions on the value histogram."""
    from protosc_spark.sketches import HDR_S

    vals, inv = np.unique(v, return_inverse=True)
    a = np.bincount(inv, weights=(g == 1)).astype(np.int64)
    b = np.bincount(inv, weights=(g == 0)).astype(np.int64)
    n1, n0 = int(a.sum()), int(b.sum())
    ca, cb = np.cumsum(a), np.cumsum(b)
    s = ca.astype(float) * n0 - cb.astype(float) * n1
    prod = float(n1) * n0
    ks = np.abs(s).max()
    out = {
        "ks": ks / prod,
        "ks_at": int(vals[np.argmax(np.abs(s) == ks)]),
        "d_plus": s.max() / prod,
        "d_minus": -s.min() / prod,
    }
    out["v"] = out["d_plus"] + out["d_minus"]
    t = a + b
    nn = n1 + n0
    out["cvm"] = float(np.sum(t * s * s)) / (float(nn) * nn * n1 * n0)
    gaps = np.append(np.diff(vals), 0).astype(float)
    out["w1"] = float(np.sum(np.abs(s) * gaps)) / prod
    # AD: Scholz-Stephens midrank form, per-value terms on a 1e-9 grid
    db = 2.0 * (np.cumsum(t) - t) + t
    dm = 2.0 * (ca - a) + a
    e = nn * dm - n1 * db
    den = db * (2.0 * nn - db) - nn * t
    with np.errstate(divide="ignore", invalid="ignore"):
        contrib = np.where(den > 0, t * e * e / (n1 * float(n0) * den), 0.0)
    out["a2"] = (nn - 1.0) / nn * float(np.floor(contrib * 1e9).sum()) / 1e9
    # PSI of each group against the pooled distribution, on HDR buckets
    bucket = _hdr_bucket(v, HDR_S)
    ub, binv = np.unique(bucket, return_inverse=True)
    pooled = np.maximum(np.bincount(binv) / len(v), PSI_FLOOR)
    out["psi"] = {}
    for grp in (0, 1):
        pg = np.maximum(np.bincount(binv[g == grp], minlength=len(ub)) / (g == grp).sum(),
                        PSI_FLOOR)
        out["psi"][grp] = round(float(np.sum((pg - pooled) * np.log(pg / pooled))), 6)
    return out


def _close(x, y, rel=1e-9, abs_=1e-12) -> bool:
    return x is not None and abs(x - y) <= max(abs_, rel * abs(y))


def compare_drift(col: str, got: dict, want: dict) -> list[str]:
    """Problems where an engine drift statistic differs from numpy."""
    checks = [
        ("ks", got["ks"][0]["ks"], want["ks"], 1e-12),
        ("ks_at", got["ks"][0]["ks_at"], want["ks_at"], 0),
        ("kuiper.d_plus", got["kuiper"][0]["d_plus"], want["d_plus"], 1e-12),
        ("kuiper.d_minus", got["kuiper"][0]["d_minus"], want["d_minus"], 1e-12),
        ("kuiper.v", got["kuiper"][0]["v"], want["v"], 1e-12),
        ("cvm", got["cvm"][0]["cvm"], want["cvm"], 1e-9),
        ("w1", got["w1"][0]["w1"], want["w1"], 1e-9),
        # AD sums per-value terms floored to 1e-9: float order may move
        # a term across a grid line, so allow a few grid steps per term
        ("ad", got["ad"][0]["a2"], want["a2"], 1e-6),
    ]
    problems = [f"{col}: {name} engine {g!r} numpy {w!r}"
                for name, g, w, rel in checks if not _close(g, w, rel=rel)]
    psi = {int(r["g"]): r["psi"] for r in got["psi"]}
    for grp, w in want["psi"].items():
        if not _close(psi.get(grp), w, rel=0, abs_=2e-6):
            problems.append(f"{col}: psi[{grp}] engine {psi.get(grp)!r} numpy {w!r}")
    return problems

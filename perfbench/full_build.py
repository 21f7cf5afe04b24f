"""full_build: the resumable full feature build, exactly as
``jobs/run.py --input`` runs it: ``checkpoint.run_resumable`` with
several waves over ``pipeline.flagship_features`` reading parquet
transcripts and attribute updates, into a fresh output directory.

Ordering, windows, as-of, extract and checkpoint all do real work, and
every wave recomputes the pipeline over the whole input, so wave
pruning, the single exchange, extract and observability changes show
here first.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import time

import gen
import probe

N_CONVERSATIONS = 600
MAX_TOKENS = 256
N_BUCKETS = 16
BUCKETS_PER_WAVE = 8
# about one turn in DUP_EVERY is delivered twice, so dedup drops rows
DUP_EVERY = 11
PREFIXES = ("scan", "windows", "ordering", "asof", "extract")
LAYER_STATS = ("cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")
EXCHANGE = re.compile(r"Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)")


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class FullBuild:
    def __init__(self, spark, work: str, seed: int, spans) -> None:
        self.spark, self.work, self.seed, self.spans = spark, work, seed, spans
        self.n_rep = 0
        self.sizes = {
            "conversations": N_CONVERSATIONS,
            "n_buckets": N_BUCKETS,
            "buckets_per_wave": BUCKETS_PER_WAVE,
            "waves": math.ceil(N_BUCKETS / BUCKETS_PER_WAVE),
        }

    # -- set-up -------------------------------------------------------------

    def make_inputs(self) -> None:
        d = os.path.join(self.work, "input")
        shutil.rmtree(d, ignore_errors=True)
        gen.write(gen.transcripts(N_CONVERSATIONS, self.seed, dup_every=DUP_EVERY,
                                  max_tokens=MAX_TOKENS),
                  os.path.join(d, "transcripts"))
        gen.write(gen.updates(N_CONVERSATIONS, self.seed), os.path.join(d, "updates"))
        self.input_dir = d

    def _read(self, d: str):
        return (self.spark.read.parquet(os.path.join(d, "transcripts")),
                self.spark.read.parquet(os.path.join(d, "updates")))

    def _build(self, d: str):
        from protosc_spark.pipeline import flagship_features

        def build(s):
            tr = s.read.parquet(os.path.join(d, "transcripts"))
            up = s.read.parquet(os.path.join(d, "updates"))
            return flagship_features(tr, up)[0]
        return build

    def _resumable(self, d: str, out: str) -> dict:
        from protosc_spark.checkpoint import run_resumable

        return run_resumable(
            self._build(d), out, n_buckets=N_BUCKETS,
            buckets_per_wave=BUCKETS_PER_WAVE, spark=self.spark,
        )

    def warm_up(self) -> None:
        """Expected side of the check (one flagship pass over the input),
        then one repetition: the op runs about 1.6 times as long the first
        time in a process as once its write path is compiled."""
        from protosc_spark.pipeline import flagship_features

        tr, up = self._read(self.input_dir)
        self.n_turns = tr.count()
        self.expected = probe.table_digest(flagship_features(tr, up)[0])
        self.sizes["turns"] = self.n_turns
        self.rep()

    # -- one repetition -----------------------------------------------------

    def _out_dir(self) -> str:
        self.n_rep += 1
        d = os.path.join(self.work, f"out{self.n_rep}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def _check(self, out: str, metrics: dict) -> tuple[list[str], dict]:
        from protosc_spark.checkpoint import completed_buckets, read_output

        problems = []
        got = probe.table_digest(
            read_output(self.spark, out).select("conv_id", "turn_idx", "ts", "features"))
        if got != self.expected:
            problems.append(f"output digest {got} != flagship pass {self.expected}")
        missing = set(range(N_BUCKETS)) - completed_buckets(out)
        if missing:
            problems.append(f"buckets without a manifest: {sorted(missing)}")
        n_bytes, n_rows = probe.parquet_bytes_rows(probe.parquet_files(out))
        if n_rows != self.expected[0] or metrics["rows_total"] != n_rows:
            problems.append(f"rows written {n_rows}, manifests "
                            f"{metrics['rows_total']}, expected {self.expected[0]}")
        return problems, {"out_bytes": n_bytes, "out_rows": n_rows}

    def rep(self):
        out = self._out_dir()
        t0 = time.perf_counter()
        metrics = self._resumable(self.input_dir, out)
        op_s = time.perf_counter() - t0
        problems, written = self._check(out, metrics)
        shutil.rmtree(out, ignore_errors=True)
        return {"op_s": op_s, "turns": self.n_turns, **written}, problems

    def _waves(self) -> list[list[int]]:
        """The bucket lists of ``run_resumable``'s waves, in its order."""
        return [list(range(i, min(i + BUCKETS_PER_WAVE, N_BUCKETS)))
                for i in range(0, N_BUCKETS, BUCKETS_PER_WAVE)]

    def traced_rep(self):
        """Each layer measured on its own, wave by wave as
        ``run_resumable`` computes it, then the resumable build, traced.

        The pipeline layers are cumulative prefixes through
        flagship_features' own parameters, each restricted to one wave's
        buckets and materialised to the noop sink; a layer's self time is
        its prefix minus the previous one, summed over the waves. The
        checkpoint layer is ``run_resumable`` over the flagship output
        already materialised in memory, minus reading that output wave
        by wave to the noop sink: the wave writes, the row counts and the
        manifests. What the real build spends beyond these parts is left
        unattributed."""
        from pyspark.sql import functions as F

        from protosc_spark.checkpoint import (
            BUCKET_COL,
            read_manifests,
            run_resumable,
            with_bucket,
        )
        from protosc_spark.pipeline import flagship_features

        tr, up = self._read(self.input_dir)
        builds = {
            "scan": lambda: tr,
            "windows": lambda: flagship_features(tr, None, extractors=[], dedup=False)[0],
            "ordering": lambda: flagship_features(tr, None, extractors=[], dedup=True)[0],
            "asof": lambda: flagship_features(tr, up, extractors=[], dedup=True)[0],
            "extract": lambda: flagship_features(tr, up)[0],
        }
        cum = {name: [] for name in PREFIXES}
        for name in PREFIXES:
            df = with_bucket(builds[name](), N_BUCKETS)
            for w, wave in enumerate(self._waves()):
                with self.spans.span(f"full_build.prefix.{name}.wave{w}", self.spark,
                                     task_detail=True) as s:
                    _noop(df.where(F.col(BUCKET_COL).isin(wave)))
                cum[name].append({"wall_s": s.wall_s, **s.meter.result})
            if name == "extract":
                plan = df._jdf.queryExecution().executedPlan().toString()
                exchanges = len(EXCHANGE.findall(plan))
        # one pass, unbucketed: the base of the amplification ratios
        with self.spans.span("full_build.one_pass", self.spark) as one:
            _noop(builds["extract"]())

        feats = builds["extract"]().localCheckpoint(eager=True)
        base = []
        for w, wave in enumerate(self._waves()):
            with self.spans.span(f"full_build.materialised.wave{w}", self.spark) as s:
                _noop(with_bucket(feats, N_BUCKETS).where(F.col(BUCKET_COL).isin(wave)))
            base.append({"wall_s": s.wall_s, **s.meter.result})
        out = self._out_dir()
        with self.spans.span("full_build.checkpoint", self.spark,
                             task_detail=True) as s:
            run_resumable(lambda _s: feats, out, n_buckets=N_BUCKETS,
                          buckets_per_wave=BUCKETS_PER_WAVE, spark=self.spark)
        own = {"wall_s": s.wall_s, **s.meter.result}
        base = _sum_waves(base)
        for key in ("wall_s",) + LAYER_STATS:
            own[key] -= base[key]
        shutil.rmtree(out, ignore_errors=True)

        out = self._out_dir()
        with self.spans.span("full_build.run_resumable", self.spark) as op:
            metrics = self._resumable(self.input_dir, out)
        problems, _ = self._check(out, metrics)
        waves = 1 + max(e["wave"] for e in read_manifests(out))
        shutil.rmtree(out, ignore_errors=True)
        return {
            "cum": {name: _sum_waves(parts) for name, parts in cum.items()},
            "checkpoint": own,
            "one_pass": one.meter.result,
            "op": {"wall_s": op.wall_s, **op.meter.result},
            "exchanges": exchanges,
            "waves": waves,
        }, problems

    # -- metrics ------------------------------------------------------------

    def end_to_end(self, reps: list[dict]) -> dict:
        op = probe.median([r["op_s"] for r in reps])
        return {
            "op_s": (op, "s"),
            "turns_per_s": (self.n_turns / op, "turns/s"),
        }

    def extra_metrics(self, reps: list[dict]) -> dict:
        return {
            "out_bytes_per_row": (
                probe.median([r["out_bytes"] / r["out_rows"] for r in reps]), "B/row"),
        }

    def layer_metrics(self, traced: list[dict], untraced: list[dict]) -> dict:
        def med(get):
            return probe.median([get(t) for t in traced])

        out, prev = {}, None
        total_self = 0.0
        for layer in PREFIXES:
            for key in ("wall_s",) + LAYER_STATS:
                out[f"{layer}.{key}"] = (med(
                    lambda t: t["cum"][layer][key] - (t["cum"][prev][key] if prev else 0.0)
                ), _unit(key))
            out[f"{layer}.task_skew"] = (med(lambda t: t["cum"][layer]["task_skew"]), "ratio")
            total_self += out[f"{layer}.wall_s"][0]
            prev = layer
        for key in ("wall_s",) + LAYER_STATS + ("task_skew",):
            out[f"checkpoint.{key}"] = (med(lambda t: t["checkpoint"][key]),
                                        "ratio" if key == "task_skew" else _unit(key))
        total_self += out["checkpoint.wall_s"][0]

        def ratio(key):
            return med(lambda t: t["op"][key] / t["one_pass"][key]
                       if t["one_pass"][key] else 0.0)

        op_traced = med(lambda t: t["op"]["wall_s"])
        op_plain = probe.median([r["op_s"] for r in untraced]) if untraced else op_traced
        out.update({
            "pipeline.exchanges": (med(lambda t: t["exchanges"]), "count"),
            "checkpoint.waves": (med(lambda t: t["waves"]), "count"),
            "checkpoint.jobs": (med(lambda t: t["op"]["jobs"]), "count"),
            "checkpoint.scan_amplification": (ratio("input_bytes"), "ratio"),
            "checkpoint.shuffle_amplification": (ratio("shuffle_write_bytes"), "ratio"),
            "op_traced_s": (op_traced, "s"),
            "trace_overhead_s": (op_traced - op_plain, "s"),
            "unattributed_s": (op_plain - total_self, "s"),
        })
        return out


def _sum_waves(parts: list[dict]) -> dict:
    """One layer's prefix over all waves: times and volumes add up, the
    skew is the worst wave's."""
    keys = ("wall_s",) + LAYER_STATS + ("input_bytes", "shuffle_write_bytes")
    out = {k: sum(p[k] for p in parts) for k in keys}
    out["task_skew"] = max(p["task_skew"] for p in parts)
    return out


def _unit(key: str) -> str:
    return "MB" if key.endswith("_mb") else "s"

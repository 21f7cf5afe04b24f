"""daily_backfill: ``backfill.incremental_backfill`` of one day inside
the conversation-start window, as ``jobs/run.py --backfill-day`` runs
it.

Set-up writes a snapshot transcript table without that day, a feature
table built from it, then lands the day with ``snapshot_upsert``. Each
repetition backfills the day into a fresh copy of that feature table,
so every repetition starts from the same table state.

This workload writes beside its reads: ``tables`` snapshot read and
MERGE, plus the pipeline layers over the affected conversations only,
where fixed per-job cost dominates. It bypasses ``run_resumable``'s
waves, so a wave-pruning change should not move it; a change that helps
the bulk build but hurts small refreshes shows here.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
import probe

# Conversations start within WINDOW_DAYS days, so one day touches
# about 1/WINDOW_DAYS of them.
N_CONVERSATIONS = 550
WINDOW_DAYS = 7
FEATURE_COLS = ("conv_id", "turn_idx", "ts", "features")


def _copy_table(src: str, dst: str) -> None:
    """Hard-link copy: snapshot tables never rewrite a data file or a
    committed manifest in place, so the copy can share them."""
    shutil.copytree(src, dst, copy_function=os.link)


class DailyBackfill:
    def __init__(self, spark, work: str, seed: int, spans) -> None:
        self.spark, self.work, self.seed, self.spans = spark, work, seed, spans
        self.n_rep = 0
        self.sizes = {"conversations": N_CONVERSATIONS}

    def make_inputs(self) -> None:
        self.input = os.path.join(self.work, "input")
        shutil.rmtree(self.input, ignore_errors=True)
        gen.write(gen.transcripts(N_CONVERSATIONS, self.seed, days=WINDOW_DAYS),
                  self.input)

    def warm_up(self) -> None:
        """Build the snapshot tables and the expected side of the check (a
        from-scratch flagship pass over the updated table), then run one
        backfill: the first one in a process takes about 1.5 times as
        long as the next."""
        from pyspark.sql import functions as F

        from protosc_spark.pipeline import flagship_features
        from protosc_spark.tables import (
            snapshot_read,
            snapshot_upsert,
            snapshot_write,
        )

        tr = self.spark.read.parquet(self.input)
        days = sorted(
            str(r["d"]) for r in
            tr.select(F.to_date("ts").alias("d")).distinct().collect()
        )
        # a day inside the start window: the 60x conversations run on
        # for days after it, so the middle of all days would touch only them
        self.day = days[WINDOW_DAYS // 2]
        on_day = F.to_date("ts") == F.lit(self.day).cast("date")
        self.table = os.path.join(self.work, "transcripts")
        self.base = os.path.join(self.work, "features_base")
        before = tr.where(~on_day)
        # set-up tables are written compacted: one file per partition
        snapshot_write(before.coalesce(1), self.table)
        snapshot_write(flagship_features(before)[0].repartition(1), self.base)
        snapshot_upsert(self.spark, self.table, tr.where(on_day))
        self.sizes.update(day=self.day, turns=tr.count(),
                          day_turns=tr.where(on_day).count())

        full = snapshot_read(self.spark, self.table).select(*tr.columns)
        self.expected = probe.table_digest(
            flagship_features(full)[0].select(*FEATURE_COLS))
        self.table_bytes = sum(
            os.path.getsize(p) for p in probe.parquet_files(self.table))
        base_bytes, base_rows = probe.parquet_bytes_rows(probe.parquet_files(self.base))
        self.base_bytes = base_bytes
        self.bytes_per_feature_row = base_bytes / base_rows
        self.rep()

    # -- one repetition -----------------------------------------------------

    def _fresh_copy(self) -> str:
        self.n_rep += 1
        d = os.path.join(self.work, f"features{self.n_rep}")
        shutil.rmtree(d, ignore_errors=True)
        _copy_table(self.base, d)
        return d

    def _check(self, fpath: str, summary: dict) -> tuple[list[str], dict]:
        from protosc_spark.tables import snapshot_read, snapshots

        problems = []
        got = probe.table_digest(snapshot_read(self.spark, fpath).select(*FEATURE_COLS))
        if got != self.expected:
            problems.append(f"feature table digest {got} != from-scratch {self.expected}")
        if not summary["n_rows_refreshed"]:
            problems.append("backfill refreshed no rows")
        # the merge's new files carry its snapshot id as a name prefix
        prefix = "s%08d-" % snapshots(fpath)[-1]["snapshot_id"]
        n_bytes, n_rows = probe.parquet_bytes_rows(
            f for f in probe.parquet_files(os.path.join(fpath, "data"))
            if os.path.basename(f).startswith(prefix))
        return problems, {"out_bytes": n_bytes, "out_rows": n_rows,
                          "rows_refreshed": summary["n_rows_refreshed"]}

    def _backfill(self, fpath: str) -> dict:
        from protosc_spark.backfill import incremental_backfill

        return incremental_backfill(self.spark, self.table, fpath, self.day)

    def rep(self):
        fpath = self._fresh_copy()
        t0 = time.perf_counter()
        summary = self._backfill(fpath)
        op_s = time.perf_counter() - t0
        problems, written = self._check(fpath, summary)
        shutil.rmtree(fpath, ignore_errors=True)
        return {"op_s": op_s, **written}, problems

    def traced_rep(self):
        """The backfill's layers called as ``incremental_backfill`` calls
        them, each in its own span, on one copy; then the real call,
        traced, on another. The remainder is the backfill's own cost."""
        from pyspark.sql import functions as F

        from protosc_spark.pipeline import flagship_features
        from protosc_spark.tables import snapshot_read, snapshot_upsert

        fpath = self._fresh_copy()
        with self.spans.span("tables.keys", self.spark) as keys:
            table = snapshot_read(self.spark, self.table)
            convs = table.where(
                F.col("ts_day") == F.lit(self.day).cast("date")
            ).select("conv_id", "conv_bucket").distinct()
            buckets = sorted(
                r["conv_bucket"] for r in convs.select("conv_bucket").distinct().collect())
            convs.count()
        with self.spans.span("pipeline.recompute", self.spark) as recompute:
            hist = table.where(F.col("conv_bucket").isin(buckets)).join(
                F.broadcast(convs.select("conv_id")), "conv_id", "left_semi")
            feats = flagship_features(
                hist.select("conv_id", "turn_idx", "role", "text", "tool", "ts"))[0]
            feats = feats.localCheckpoint(eager=True)
            feats.count()
        with self.spans.span("tables.upsert", self.spark) as upsert:
            snapshot_upsert(self.spark, fpath, feats)
        shutil.rmtree(fpath, ignore_errors=True)

        fpath = self._fresh_copy()
        with self.spans.span("backfill.incremental_backfill", self.spark) as op:
            summary = self._backfill(fpath)
        problems, written = self._check(fpath, summary)
        shutil.rmtree(fpath, ignore_errors=True)
        return {
            "keys_s": keys.wall_s,
            "recompute_s": recompute.wall_s,
            "upsert_s": upsert.wall_s,
            "op_s": op.wall_s,
            "jobs": op.meter.result["jobs"],
            "input_bytes": op.meter.result["input_bytes"],
            **written,
        }, problems

    # -- metrics ------------------------------------------------------------

    def end_to_end(self, reps: list[dict]) -> dict:
        op = probe.median([r["op_s"] for r in reps])
        turns = probe.median([r["rows_refreshed"] for r in reps])
        return {"op_s": (op, "s"), "turns_per_s": (turns / op, "turns/s")}

    def extra_metrics(self, reps: list[dict]) -> dict:
        return {
            "out_bytes_per_row": (
                probe.median([r["out_bytes"] / r["out_rows"] for r in reps]), "B/row"),
        }

    def layer_metrics(self, traced: list[dict], untraced: list[dict]) -> dict:
        def med(key):
            return probe.median([t[key] for t in traced])

        op_traced = med("op_s")
        op_plain = probe.median([r["op_s"] for r in untraced]) if untraced else op_traced
        parts = med("keys_s") + med("recompute_s") + med("upsert_s")
        # the remainder of the traced call; unattributed_s is the plain
        # op's remainder, so the two differ by the tracing overhead
        overhead = op_traced - parts
        return {
            "tables.keys_s": (med("keys_s"), "s"),
            "pipeline.recompute_s": (med("recompute_s"), "s"),
            "tables.upsert_s": (med("upsert_s"), "s"),
            "backfill.overhead_s": (overhead, "s"),
            "backfill.jobs": (med("jobs"), "count"),
            "backfill.rows_refreshed": (med("rows_refreshed"), "count"),
            "backfill.scan_fraction": (
                med("input_bytes") / (self.table_bytes + self.base_bytes), "ratio"),
            "tables.write_amplification": (
                med("out_bytes") / (med("rows_refreshed") * self.bytes_per_feature_row),
                "ratio"),
            "op_traced_s": (op_traced, "s"),
            "trace_overhead_s": (op_traced - op_plain, "s"),
            "unattributed_s": (op_plain - parts, "s"),
        }

"""Same-host layered benchmark of the engine's three production paths.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see perfbench/README.md):

- ``full_build``: ``checkpoint.run_resumable`` over
  ``pipeline.flagship_features`` on parquet input, as ``jobs/run.py
  --input`` runs it;
- ``daily_backfill``: ``backfill.incremental_backfill`` of one day
  into a snapshot feature table;
- ``feature_audit``: ``FilterModel.execute`` (distributed statistics
  path), the drift family, and the reference FilterModel config.

One process, one client, closed loop: a repetition starts when the
previous one has been checked. Set-up (Spark boot, inputs, warm-up of
every timed path) is timed separately. Every repetition's output is
checked; a failed check or an exception counts as a failed op.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics from traced repetitions. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. The lines
before it give the workload's own metrics and the path of the full
record (every repetition, host steal and load, spans), which is written
under ``.bench_results/``.
"""

from __future__ import annotations

import time

# set-up is timed from here, the first thing the process does
T_START = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probe  # noqa: E402

WORKLOADS = ("full_build", "daily_backfill", "feature_audit")
# at least one measured repetition; a traced run alternates traced and
# plain ones, at least one of each
MIN_REPS = 1


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _host_env(work: str) -> dict:
    """Environment for a Spark run that fits this host: every core, a
    driver heap sized to RAM, and scratch space inside the work dir."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    for var in ("PROTOSC_SPARK_MASTER", "PROTOSC_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_LAUNCHER_OPTS=jvm_opts,  # the JVM that builds the driver command
        SPARK_GRAFT_CPUS=str(cpus),
        PROTOSC_DRIVER_MEM=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    return {"cpus": cpus, "mem_gb": round(mem_kb / 1024 / 1024, 1),
            "driver_heap": f"{heap_gb}g", "jvm_opts": jvm_opts}


def _boot(work: str, jvm_opts: str):
    from protosc_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _shutdown(spark) -> None:
    """Stop Spark, end the driver JVM, and wait for every process this
    run started (the JVM and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # taken before the JVM exits: its Python workers are re-parented then
    started = probe.descendants(os.getpid())
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        left = [p for p in started if os.path.exists(f"/proc/{p}")]
        left += probe.descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.2)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _make(name: str, spark, work: str, seed: int, spans):
    if name == "full_build":
        from full_build import FullBuild as cls
    elif name == "daily_backfill":
        from daily_backfill import DailyBackfill as cls
    else:
        from feature_audit import FeatureAudit as cls
    return cls(spark, work, seed, spans)


class Loop:
    """Closed loop with one client: run repetitions back to back until
    ``seconds`` are spent (at least ``min_reps``). Each repetition is
    prepared and checked outside its timed region."""

    def __init__(self, seconds: float, min_reps: int) -> None:
        self.seconds = seconds
        self.min_reps = min_reps
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def attempt(self, step) -> None:
        try:
            problems = step()
        except Exception:  # noqa: BLE001 - counted, then reported
            problems = [traceback.format_exc(limit=5)]
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.extend(problems[:3])

    def run(self, step) -> None:
        """``step()`` returns the problems its check found; an exception
        or a non-empty list is a failed op."""
        t0 = time.perf_counter()
        n = 0
        while True:
            self.attempt(step)
            n += 1
            spent = time.perf_counter() - t0
            if n >= self.min_reps and spent * (1 + 1 / n) > self.seconds:
                return


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "protosc_spark")):
        _fail(f"no protosc_spark package under {ROOT}; run from a checkout")
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import protosc_spark  # noqa: F401
    except ImportError as e:
        _fail(f"cannot import the engine: {e}")

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = _host_env(work)
    rss = probe.RssSampler().start()
    spans = probe.Spans()

    spark = _boot(work, host["jvm_opts"])
    boot_s = time.perf_counter() - T_START
    try:
        wl = _make(args.workload, spark, work, args.seed, spans)
        t0 = time.perf_counter()
        wl.make_inputs()
        input_s = time.perf_counter() - t0
        wl.warm_up()
        # process start to ready: boot, inputs, expected sides, warm-up
        setup_s = time.perf_counter() - T_START
        warm_s = setup_s - boot_s - input_s

        loop = Loop(args.seconds, MIN_REPS * (2 if args.trace else 1))
        window = probe.HostWindow()
        reps, traced = [], []

        def plain():
            host_rep = probe.HostWindow()
            rec, problems = wl.rep()
            rec["steal_frac"] = host_rep.close()["steal_frac"]
            if not problems:
                reps.append(rec)
            return problems

        def traced_step():
            rec, problems = wl.traced_rep()
            if not problems:
                traced.append(rec)
            return problems

        if args.trace:
            # one checked, untimed plain repetition first, so the layer
            # calls of the traced ones do not run cold
            loop.attempt(lambda: wl.rep()[1])
            # traced and plain repetitions in turn: the plain ones give
            # the untraced op_s that the tracing overhead is taken from
            turns = itertools.cycle((traced_step, plain))
            loop.run(lambda: next(turns)())
        else:
            loop.run(plain)
        host_window = window.close()
        peak_mb = rss.stop()
        extra = wl.extra_metrics(reps) if reps else {}
        if args.trace:
            got = wl.layer_metrics(traced, reps) if traced else {}
            got.update(extra)
        else:
            got = wl.end_to_end(reps) if reps else {}
            got["setup_s"] = (setup_s, "s")
        got["peak_rss_mb"] = (peak_mb, "MB")
        sizes = wl.sizes
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    spec = _spec()
    names = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in names:
        # a layer this workload does not run reads 0 in a traced run
        value, unit = got.pop(m["name"], (0.0, m["unit"]))
        if unit != m["unit"]:
            _fail(f"metric {m['name']} measured in {unit}, declared {m['unit']}")
        metrics[m["name"]] = {"value": float(value), "unit": unit}
    extra.update(got)
    correct = loop.failed == 0

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {**host, **host_window},
        "setup": {"boot_s": boot_s, "input_s": input_s, "warm_up_s": warm_s,
                  "setup_s": setup_s},
        "sizes": sizes,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "errors": loop.errors,
        "metrics": metrics,
        "workload_metrics": extra,
        "reps": reps,
        "traced_reps": traced,
        "spans": spans.records,
    }
    out_dir = os.path.join(ROOT, ".bench_results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{run_id}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for e in loop.errors:
        print(f"perfbench: failed op: {e}", file=sys.stderr)
    print(f"# record: {os.path.relpath(path, ROOT)}")
    print("# workload metrics: " + json.dumps(
        {k: {"value": v, "unit": u} for k, (v, u) in extra.items()}))
    print(json.dumps({
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }), flush=True)


if __name__ == "__main__":
    main()

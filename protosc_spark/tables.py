"""Partitioned transcript tables with Iceberg-equivalent layout and
partition pruning.

The north rule's input is an Iceberg table partitioned by
``bucket(conv_id)`` / ``days(ts)``. This sandbox's Spark has NO Iceberg
jars (checked: /opt/spark/jars contains no iceberg/delta/hudi), so the
same physical layout is produced with plain parquet partitioning,
which exercises the identical pruning machinery in Catalyst
(PartitionFilters on the scan node):

  Iceberg DDL equivalent               parquet layout here
  PARTITIONED BY (days(ts),      ->    .partitionBy("ts_day",
                  bucket(N, conv_id))                "conv_bucket")
  with ts_day     = to_date(ts)
       conv_bucket = pmod(xxhash64(conv_id), N)

On a cluster with the Iceberg runtime, ``write_transcript_table``'s
body becomes ``df.writeTo(tbl).partitionedBy(F.days("ts"),
F.bucket(n_buckets, "conv_id")).createOrReplace()`` and the readers
below work unchanged (Iceberg surfaces the same partition columns to
pruning); checkpoint.input_lineage's "files" digest is then replaced
by the snapshot_id.

Pruning contracts are pinned in tests/test_tables.py: a day-ranged
query's scan must list PartitionFilters on ts_day, and a single-
conversation lookup must touch only its bucket's files (1/N of the
table) — the properties that make point lookups and incremental
(daily) feature backfills O(day) instead of O(table) at 100 TB.

Both layouts share ONE partition-MERGE planner (``_merge_plan``): it
finds the touched (ts_day, conv_bucket) partitions and the
replaced/inserted counts from two grouped collects, and builds the
survivors-plus-updates frame. Only the commit differs:
``upsert_transcripts`` rewrites the live layout in place by dynamic
partition overwrite, and ``snapshot_upsert`` stages new files and
commits a manifest.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
from collections import defaultdict
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 8


def _bucket(conv_id: Column, n_buckets: int) -> Column:
    """The engine-wide stable bucket, pmod(xxhash64(conv_id), N) —
    identical to checkpoint.with_bucket and the dedup/asof salting, so
    one layout serves them all."""
    return F.pmod(F.xxhash64(conv_id), F.lit(n_buckets)).cast("int")


def _partition_cols(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("ts_day", F.to_date("ts")).withColumn(
        "conv_bucket", _bucket(F.col("conv_id"), n_buckets)
    )


def _part_dir(day: str, bucket: int) -> str:
    return f"ts_day={day}/conv_bucket={bucket}"


def _in_partition(day: str, bucket: int) -> Column:
    return (F.col("ts_day") == F.lit(day).cast("date")) & (
        F.col("conv_bucket") == F.lit(int(bucket))
    )


def write_transcript_table(
    df: DataFrame, path: str, n_buckets: int = DEFAULT_BUCKETS
) -> None:
    """Write transcripts partitioned by (ts_day, conv_bucket) with the
    engine-wide bucket expression (``_bucket``)."""
    (
        _partition_cols(df, n_buckets)
        .write.mode("overwrite")
        .partitionBy("ts_day", "conv_bucket")
        .parquet(path)
    )


def read_transcript_table(
    spark: SparkSession, path: str, drop_partition_cols: bool = False
) -> DataFrame:
    """Read a written transcript table.

    Partition discovery surfaces the layout columns (ts_day,
    conv_bucket) IN ADDITION to the input_hint schema — they are
    RETAINED by default because scan_days / scan_conversation prune on
    them. Pass ``drop_partition_cols=True`` to get back the exact
    input_hint schema (e.g. for unionByName / schema-equality checks);
    predicates on ts_day/conv_bucket applied BEFORE the drop still
    prune (Catalyst pushes the filter below the projection).
    """
    df = spark.read.parquet(path)
    if drop_partition_cols:
        df = df.drop("ts_day", "conv_bucket")
    return df


def scan_days(df: DataFrame, start_day: str, end_day: str) -> DataFrame:
    """Day-range scan: the filter lands on the ts_day PARTITION column,
    so Catalyst prunes whole day directories before reading a byte
    (PartitionFilters on the FileScan; pinned in tests)."""
    return df.where(
        (F.col("ts_day") >= F.lit(start_day).cast("date"))
        & (F.col("ts_day") <= F.lit(end_day).cast("date"))
    )


def scan_conversation(
    df: DataFrame, conv_id: str, n_buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """Single-conversation lookup touching only 1/N of the files: the
    bucket of the literal conv_id is computable at plan time, so the
    conv_bucket predicate prunes every other bucket directory; the
    exact conv_id equality then filters within the bucket."""
    return df.where(
        (F.col("conv_bucket") == _bucket(F.lit(conv_id), n_buckets))
        & (F.col("conv_id") == conv_id)
    )


class _MergePlan(NamedTuple):
    touched: set[tuple[str, int]]  # (ts_day, conv_bucket) to rewrite
    n_replaced: int
    n_inserted: int
    out: DataFrame  # survivors of the touched partitions + the updates

    def summary(self) -> dict:
        return {
            "partitions_rewritten": len(self.touched),
            "n_replaced": self.n_replaced,
            "n_inserted": self.n_inserted,
        }


def _merge_plan(
    table: DataFrame, updates: DataFrame, n_buckets: int
) -> _MergePlan:
    """Plan a partition-level MERGE of ``updates`` into ``table`` (the
    Iceberg ``MERGE INTO ... ON t.conv_id = s.conv_id AND t.turn_idx =
    s.turn_idx`` with copy-on-write at partition granularity): rows in
    ``updates`` REPLACE existing rows with the same (conv_id,
    turn_idx) and new keys are inserted.

    A correction may MOVE a turn across days (ts edit), so the stale
    row's OLD partition is touched too, or a duplicate survives. Two
    grouped collects, both bounded by the update batch, give the plan:

    - ``updates`` grouped by partition: the update partitions, the
      buckets to prune to, and the update count;
    - the table's update buckets (static pruning on conv_bucket, 1/N
      of the table per distinct bucket) semi-joined to the update keys
      and grouped by partition: the stale partitions and
      ``n_replaced``.

    ``out`` reads only the touched partitions, anti-joined against the
    update keys, plus the updates: the full new content of every
    touched partition. A touched partition that ``out`` does not
    contain was emptied by the merge.
    """
    up = _partition_cols(updates, n_buckets)
    keys = F.broadcast(up.select("conv_id", "turn_idx"))

    def per_partition(df: DataFrame) -> dict[tuple[str, int], int]:
        return {
            (str(r["ts_day"]), r["conv_bucket"]): r["count"]
            for r in df.groupBy("ts_day", "conv_bucket").count().collect()
        }

    up_parts = per_partition(up)
    buckets = sorted({bucket for _day, bucket in up_parts})
    stale_parts = per_partition(
        table.where(F.col("conv_bucket").isin(buckets)).join(
            keys, ["conv_id", "turn_idx"], "left_semi"
        )
    )
    touched = set(up_parts) | set(stale_parts)
    part_filter = F.lit(False)
    for part in sorted(touched):
        part_filter = part_filter | _in_partition(*part)
    survivors = table.where(part_filter).join(
        keys, ["conv_id", "turn_idx"], "left_anti"
    )
    n_replaced = sum(stale_parts.values())
    return _MergePlan(
        touched=touched,
        n_replaced=n_replaced,
        n_inserted=sum(up_parts.values()) - n_replaced,
        out=survivors.select(*up.columns).unionByName(up),
    )


def upsert_transcripts(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
) -> dict:
    """Partition-level MERGE into a live transcript table (see
    ``_merge_plan`` for the semantics), committed in place: the merged
    partitions are rewritten by dynamic partition overwrite, and a
    touched partition the merge emptied is deleted. Untouched
    partition files are byte-identical afterwards (pinned in tests).

    The live layout stores no metadata, so ``n_buckets`` must be the
    count the table was written with.

    Returns {"partitions_rewritten", "n_replaced", "n_inserted"}.
    """
    plan = _merge_plan(read_transcript_table(spark, path), updates, n_buckets)
    # materialize BEFORE writing: Spark refuses to overwrite a path
    # its own plan reads from; the eager localCheckpoint truncates the
    # lineage to the already-computed rows (bounded by the touched
    # partitions, i.e. by the update batch — never table-scale)
    out = plan.out.localCheckpoint(eager=True)
    dirs = [os.path.join(path, _part_dir(*p)) for p in plan.touched]
    before = {d: set(os.listdir(d)) for d in dirs if os.path.isdir(d)}
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ts_day", "conv_bucket")
        .parquet(path)
    )
    # dynamic overwrite replaces only the partitions present in `out`
    # (with freshly named files); a touched partition whose listing is
    # unchanged is one the merge emptied
    for d, names in before.items():
        if set(os.listdir(d)) == names:
            shutil.rmtree(d)
    return plan.summary()


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Small-file compaction (the Iceberg ``rewrite_data_files``
    analog): rewrite every (ts_day, conv_bucket) partition whose file
    count is >= ``min_files`` into ceil(partition_bytes /
    target_bytes) files, leaving other partitions' files untouched
    (dynamic partition overwrite again). Repeated upserts fragment
    partitions — a daily MERGE leaves one new file per touched
    partition per run — and at 100 TB a scan's task count follows the
    file count, so compaction is what keeps read amortization flat.

    Deterministic content: rows are re-sorted by (conv_id, turn_idx)
    within each rewritten partition, so the table's logical content
    (and every downstream digest) is unchanged — pinned in tests.

    Driver work is one directory listing (file name/size metadata
    only, no data reads) — the same metadata a table format serves
    from its manifest.
    """
    sizes: dict[tuple[str, str], int] = defaultdict(int)
    counts: dict[tuple[str, str], int] = defaultdict(int)
    for f in glob.glob(f"{path}/ts_day=*/conv_bucket=*/*.parquet"):
        day_dir, bucket_dir = f.split(os.sep)[-3:-1]
        key = (day_dir.split("=", 1)[1], bucket_dir.split("=", 1)[1])
        sizes[key] += os.path.getsize(f)
        counts[key] += 1
    victims = {k for k, c in counts.items() if c >= min_files}
    if not victims:
        return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}

    table = read_transcript_table(spark, path)
    cols = table.columns
    pieces = []
    for day, bucket in sorted(victims):
        n_out = max(1, math.ceil(sizes[(day, bucket)] / target_bytes))
        piece = (
            table.where(_in_partition(day, bucket))
            .repartition(n_out)
            .sortWithinPartitions("conv_id", "turn_idx")
        )
        pieces.append(piece)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    out = out.select(*cols).localCheckpoint(eager=True)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ts_day", "conv_bucket")
        .parquet(path)
    )
    files_after = len(glob.glob(f"{path}/ts_day=*/conv_bucket=*/*.parquet"))
    return {
        "partitions_compacted": len(victims),
        "files_before": sum(counts.values()),
        "files_after": files_after,
    }


# ---------------------------------------------------------------------------
# snapshot layer: snapshot-isolated MERGE, time travel, rollback,
# expiration (the Iceberg metadata model on the same parquet layout)
# ---------------------------------------------------------------------------
#
# Iceberg's durability model is append-only data files + immutable
# manifests: a commit never mutates or deletes data files, it writes a
# new manifest that references a different file set. The stand-in here
# is byte-compatible with that idea on plain parquet:
#
#   path/data/ts_day=D/conv_bucket=B/s<snap>-part-*.parquet
#   path/_snapshots/<snap>.json   {snapshot_id, operation, parent,
#                                  files: [relative paths], summary}
#
# Every writer stages through Spark's normal partitioned write, then
# the driver MOVES part files into the shared partition directories
# under snapshot-prefixed names (metadata-scale work: one rename per
# file) and commits one manifest atomically (tmp + rename). Readers
# resolve a manifest to an explicit file list and read it with
# basePath = path/data, so partition columns (and partition pruning)
# work exactly as on the live layout. Because old files are never
# touched, reads of ANY retained snapshot are consistent while new
# commits land — snapshot isolation — and rollback is just a new
# manifest referencing an old file set, as in Iceberg. A MERGE that
# empties a partition simply drops its files from the new manifest.


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_snapshots")


def _load_manifests(path: str) -> list[dict]:
    d = _manifest_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".json"):
            with open(os.path.join(d, fn)) as fh:
                out.append(json.load(fh))
    return out


def _commit_manifest(path: str, snap: dict) -> None:
    d = _manifest_dir(path)
    os.makedirs(d, exist_ok=True)
    final = os.path.join(d, f"{snap['snapshot_id']:08d}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(snap, fh, indent=2, sort_keys=True)
    os.rename(tmp, final)  # the atomic commit point


def _ingest_staged(path: str, snap_id: int, staged: str) -> list[str]:
    """Move staged part files into the shared partition directories
    under snapshot-prefixed names; returns their manifest-relative
    paths. Driver metadata work only (one rename per file)."""
    files = []
    for root, _dirs, fns in os.walk(staged):
        for fn in fns:
            if not fn.endswith(".parquet"):
                continue
            rel_part = os.path.relpath(root, staged)
            dest_dir = os.path.join(path, "data", rel_part)
            os.makedirs(dest_dir, exist_ok=True)
            dest = f"s{snap_id:08d}-{fn}"
            os.rename(os.path.join(root, fn), os.path.join(dest_dir, dest))
            files.append(f"{rel_part}/{dest}")
    shutil.rmtree(staged, ignore_errors=True)
    return sorted(files)


def snapshot_write(
    df: DataFrame, path: str, n_buckets: int = DEFAULT_BUCKETS
) -> int:
    """Create snapshot 1 (or a full-replace snapshot on an existing
    table): stage a normal partitioned write, ingest, commit one
    manifest referencing only the new files. Returns the snapshot id."""
    prev = _load_manifests(path)
    snap_id = (prev[-1]["snapshot_id"] + 1) if prev else 1
    staged = os.path.join(path, "_staging")
    (
        _partition_cols(df, n_buckets)
        .write.mode("overwrite")
        .partitionBy("ts_day", "conv_bucket")
        .parquet(staged)
    )
    files = _ingest_staged(path, snap_id, staged)
    _commit_manifest(
        path,
        {
            "snapshot_id": snap_id,
            "parent": prev[-1]["snapshot_id"] if prev else None,
            "operation": "replace" if prev else "write",
            "files": files,
            "n_buckets": n_buckets,
        },
    )
    return snap_id


def snapshot_read(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> DataFrame:
    """Read the table AS OF a snapshot (latest when omitted) — time
    travel. The manifest's explicit file list is read with basePath =
    the shared data root, so partition columns and pruning behave
    exactly as on a live scan."""
    mans = _load_manifests(path)
    if not mans:
        raise ValueError(f"no snapshots at {path}")
    if snapshot_id is None:
        man = mans[-1]
    else:
        try:
            man = next(
                m for m in mans if m["snapshot_id"] == snapshot_id
            )
        except StopIteration:
            raise ValueError(
                f"snapshot {snapshot_id} not found (have "
                f"{[m['snapshot_id'] for m in mans]})"
            ) from None
    base = os.path.join(path, "data")
    if not man["files"]:
        raise ValueError(f"snapshot {man['snapshot_id']} is empty")
    return spark.read.option("basePath", base).parquet(
        *(os.path.join(base, f) for f in man["files"])
    )


def snapshot_upsert(
    spark: SparkSession, path: str, updates: DataFrame
) -> dict:
    """Snapshot-isolated MERGE (see ``_merge_plan`` for the
    semantics), committed without mutating any existing file: the
    touched partitions get new snapshot-prefixed files and the new
    manifest drops the old ones, so every prior snapshot stays
    readable (time travel) and a partition emptied by the merge
    disappears from the new snapshot. The bucket count comes from the
    table's manifest. Returns the merge summary + new snapshot id."""
    mans = _load_manifests(path)
    if not mans:
        raise ValueError(f"no snapshots at {path}")
    prev = mans[-1]
    snap_id = prev["snapshot_id"] + 1
    plan = _merge_plan(snapshot_read(spark, path), updates, prev["n_buckets"])
    staged = os.path.join(path, "_staging")
    (
        plan.out.write.mode("overwrite")
        .partitionBy("ts_day", "conv_bucket")
        .parquet(staged)
    )
    new_files = _ingest_staged(path, snap_id, staged)
    touched_dirs = {_part_dir(*p) for p in plan.touched}
    kept = [
        f for f in prev["files"]
        if "/".join(f.split("/")[:2]) not in touched_dirs
    ]
    _commit_manifest(
        path,
        {
            "snapshot_id": snap_id,
            "parent": prev["snapshot_id"],
            "operation": "merge",
            "files": sorted(kept + new_files),
            "n_buckets": prev["n_buckets"],
        },
    )
    return {"snapshot_id": snap_id, **plan.summary()}


def snapshot_rollback(path: str, snapshot_id: int) -> int:
    """Roll the table back to an earlier snapshot the Iceberg way: a
    NEW snapshot whose file list is the old one (history is preserved;
    nothing is deleted). Returns the new snapshot id."""
    mans = _load_manifests(path)
    src = next(
        (m for m in mans if m["snapshot_id"] == snapshot_id), None
    )
    if src is None:
        raise ValueError(f"snapshot {snapshot_id} not found")
    new_id = mans[-1]["snapshot_id"] + 1
    _commit_manifest(
        path,
        {
            "snapshot_id": new_id,
            "parent": mans[-1]["snapshot_id"],
            "operation": "rollback",
            "rolled_back_to": snapshot_id,
            "files": src["files"],
            "n_buckets": src.get("n_buckets", DEFAULT_BUCKETS),
        },
    )
    return new_id


def snapshots(path: str) -> list[dict]:
    """Snapshot history (id, operation, parent, file count) — the
    metadata table a catalog would serve."""
    return [
        {
            "snapshot_id": m["snapshot_id"],
            "operation": m["operation"],
            "parent": m["parent"],
            "n_files": len(m["files"]),
            **(
                {"rolled_back_to": m["rolled_back_to"]}
                if "rolled_back_to" in m
                else {}
            ),
        }
        for m in _load_manifests(path)
    ]


def expire_snapshots(path: str, keep_last: int = 1) -> dict:
    """Expire all but the newest ``keep_last`` snapshots and delete
    every data file no retained snapshot references (the Iceberg
    ``expire_snapshots`` + orphan-file cleanup). Time travel to
    expired snapshots is gone afterwards; retained reads are
    untouched."""
    mans = _load_manifests(path)
    if len(mans) <= keep_last:
        return {"snapshots_expired": 0, "files_deleted": 0}
    kept, dropped = mans[-keep_last:], mans[:-keep_last]
    referenced = {f for m in kept for f in m["files"]}
    base = os.path.join(path, "data")
    deleted = 0
    for f in glob.glob(f"{base}/ts_day=*/conv_bucket=*/*.parquet"):
        if os.path.relpath(f, base) not in referenced:
            os.remove(f)
            deleted += 1
    for m in dropped:
        os.remove(
            os.path.join(_manifest_dir(path), f"{m['snapshot_id']:08d}.json")
        )
    return {"snapshots_expired": len(dropped), "files_deleted": deleted}


def snapshot_compact(
    spark: SparkSession, path: str, min_files: int = 2
) -> dict:
    """Small-file compaction under the snapshot model (the Iceberg
    ``rewrite_data_files`` action): every partition that the LATEST
    snapshot reads from >= ``min_files`` files is rewritten into
    fresh snapshot-prefixed files (rows re-sorted by (conv_id,
    turn_idx), so logical content — and every downstream digest — is
    unchanged), and a new manifest swaps them in. Nothing is deleted:
    prior snapshots keep reading the fragmented files until
    expire_snapshots reclaims them.

    The fragmentation census comes from the MANIFEST (no filesystem
    listing): repeated daily MERGEs leave one new file per touched
    partition per run, and at 100 TB a scan's task count follows the
    file count, so compaction is what keeps read amortization flat.
    """
    mans = _load_manifests(path)
    if not mans:
        raise ValueError(f"no snapshots at {path}")
    prev = mans[-1]
    per_part: dict[str, list[str]] = defaultdict(list)
    for f in prev["files"]:
        per_part["/".join(f.split("/")[:2])].append(f)
    victims = {p: fs for p, fs in per_part.items() if len(fs) >= min_files}
    if not victims:
        return {"partitions_compacted": 0, "files_before": 0,
                "files_after": 0, "snapshot_id": prev["snapshot_id"]}
    snap_id = prev["snapshot_id"] + 1
    base = os.path.join(path, "data")
    victim_files = [f for fs in victims.values() for f in fs]
    df = spark.read.option("basePath", base).parquet(
        *(os.path.join(base, f) for f in victim_files)
    )
    staged = os.path.join(path, "_staging")
    (
        df.repartition(len(victims), "ts_day", "conv_bucket")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite")
        .partitionBy("ts_day", "conv_bucket")
        .parquet(staged)
    )
    new_files = _ingest_staged(path, snap_id, staged)
    kept = [f for f in prev["files"] if f not in set(victim_files)]
    _commit_manifest(
        path,
        {
            "snapshot_id": snap_id,
            "parent": prev["snapshot_id"],
            "operation": "compact",
            "files": sorted(kept + new_files),
            "n_buckets": prev.get("n_buckets", DEFAULT_BUCKETS),
        },
    )
    return {
        "partitions_compacted": len(victims),
        "files_before": len(victim_files),
        "files_after": len(new_files),
        "snapshot_id": snap_id,
    }

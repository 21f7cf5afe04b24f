"""Partitioned transcript tables: Iceberg-equivalent parquet layout
must actually PRUNE — day filters and conversation lookups hit only
their partition directories (plan-level PartitionFilters + file-count
checks), and the round trip preserves the rows exactly."""

import pytest
from pyspark.sql import functions as F

from protosc_spark.tables import (
    DEFAULT_BUCKETS,
    read_transcript_table,
    scan_conversation,
    scan_days,
    write_transcript_table,
)


@pytest.fixture(scope="module")
def table(spark, transcripts, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ttab") / "transcripts")
    write_transcript_table(transcripts, path)
    return read_transcript_table(spark, path)


def _scan_node(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    for piece in plan.split("FileScan"):
        if "PartitionFilters" in piece:
            return piece
    raise AssertionError(f"no FileScan with PartitionFilters in:\n{plan}")


def test_round_trip_preserves_rows(transcripts, table):
    cols = transcripts.columns
    a = transcripts.select(cols)
    b = table.select(cols)
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_day_scan_prunes_partitions(spark, table):
    q = scan_days(table, "2025-01-01", "2025-01-02")
    scan = _scan_node(q)
    assert "ts_day" in scan.split("PartitionFilters")[1].split("]")[0]
    # only the two day directories are planned for reading
    n_days_all = len({f.split("ts_day=")[1].split("/")[0]
                      for f in table.inputFiles()})
    got_days = {
        r["ts_day"] for r in q.select("ts_day").distinct().collect()
    }
    assert len(got_days) <= 2 < n_days_all


def test_conversation_scan_touches_one_bucket(spark, table, transcripts):
    conv = transcripts.select("conv_id").first()["conv_id"]
    q = scan_conversation(table, conv)
    scan = _scan_node(q)
    part_filters = scan.split("PartitionFilters")[1].split("]")[0]
    assert "conv_bucket" in part_filters
    # correctness: exactly this conversation's rows
    want = transcripts.where(F.col("conv_id") == conv).count()
    assert q.count() == want > 0
    # and the planned file set is confined to one bucket directory
    # per day (1/N of each day's files)
    buckets = {
        r["conv_bucket"] for r in q.select("conv_bucket").distinct().collect()
    }
    assert len(buckets) == 1
    n_buckets_all = len({f.split("conv_bucket=")[1].split("/")[0]
                         for f in table.inputFiles()})
    assert n_buckets_all > 1  # the table actually spread over buckets


def test_bucket_expression_matches_checkpoint_bucketing(spark, transcripts):
    """One stable hash serves tables, checkpoints and salting: the
    table's conv_bucket equals checkpoint.with_bucket's assignment."""
    from protosc_spark.checkpoint import BUCKET_COL, with_bucket

    a = (
        transcripts.withColumn(
            "conv_bucket",
            F.pmod(F.xxhash64("conv_id"), F.lit(DEFAULT_BUCKETS)).cast("int"),
        )
        .select("conv_id", "conv_bucket")
        .distinct()
    )
    b = (
        with_bucket(transcripts, DEFAULT_BUCKETS)
        .select("conv_id", F.col(BUCKET_COL).alias("conv_bucket"))
        .distinct()
    )
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


class TestUpsert:
    @pytest.fixture()
    def upath(self, spark, transcripts, tmp_path):
        path = str(tmp_path / "utab")
        write_transcript_table(transcripts, path)
        return path

    def _files(self, path):
        import glob
        import os

        return {
            os.path.relpath(f, path): os.path.getmtime(f)
            for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
        }

    def test_replace_and_insert(self, spark, transcripts, upath):
        from protosc_spark.tables import upsert_transcripts

        # replace 2 existing turns' text, insert 1 brand-new turn in
        # an existing conversation (same ts_day as its neighbors)
        some = transcripts.orderBy("conv_id", "turn_idx").limit(2)
        repl = some.withColumn("text", F.lit("CORRECTED"))
        anchor = transcripts.orderBy("conv_id", "turn_idx").limit(1)
        ins = anchor.select(
            "conv_id",
            (F.col("turn_idx") + 10_000).alias("turn_idx"),
            "role",
            F.lit("NEW TURN").alias("text"),
            "tool",
            "ts",
        )
        updates = repl.unionByName(ins.select(*repl.columns))
        m = upsert_transcripts(spark, upath, updates)
        assert m["n_replaced"] == 2 and m["n_inserted"] == 1

        got = read_transcript_table(spark, upath, drop_partition_cols=True)
        assert got.count() == transcripts.count() + 1
        assert got.where(F.col("text") == "CORRECTED").count() == 2
        assert got.where(F.col("text") == "NEW TURN").count() == 1
        # no duplicate keys anywhere
        assert (
            got.groupBy("conv_id", "turn_idx").count().where("count > 1").count()
            == 0
        )

    def test_untouched_partitions_not_rewritten(self, spark, transcripts, upath):
        from protosc_spark.tables import upsert_transcripts

        before = self._files(upath)
        one = transcripts.orderBy("conv_id", "turn_idx").limit(1)
        updates = one.withColumn("text", F.lit("X"))
        m = upsert_transcripts(spark, upath, updates)
        after = self._files(upath)
        changed = {
            f
            for f in set(before) | set(after)
            if before.get(f) != after.get(f)
        }
        # every changed file lives in a rewritten partition dir; at
        # least one file outside them is untouched
        parts = {f.split("/part-")[0] for f in changed}
        assert len(parts) == m["partitions_rewritten"] == 1
        untouched = set(before) & set(after) - changed
        assert untouched and all(before[f] == after[f] for f in untouched)

    def test_cross_day_move_removes_stale_row(self, spark, transcripts, upath):
        from protosc_spark.tables import upsert_transcripts

        one = transcripts.orderBy("conv_id", "turn_idx").limit(1)
        moved = one.withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 3 DAYS")
        ).withColumn("text", F.lit("MOVED"))
        m = upsert_transcripts(spark, upath, moved)
        assert m["n_replaced"] == 1 and m["n_inserted"] == 0
        assert m["partitions_rewritten"] == 2  # old day + new day
        got = read_transcript_table(spark, upath, drop_partition_cols=True)
        key = one.select("conv_id", "turn_idx").first()
        rows = got.where(
            (F.col("conv_id") == key["conv_id"])
            & (F.col("turn_idx") == key["turn_idx"])
        ).collect()
        assert len(rows) == 1 and rows[0]["text"] == "MOVED"
        assert got.count() == transcripts.count()


class TestCompaction:
    def test_compaction_restores_file_count_and_content(
        self, spark, transcripts, tmp_path
    ):
        """Fragment one partition via repeated single-row upserts, then
        compact: file count drops back, logical content identical,
        untouched partitions' files byte-identical."""
        import glob

        from protosc_spark.tables import (
            compact_partitions,
            read_transcript_table,
            upsert_transcripts,
            write_transcript_table,
        )

        path = str(tmp_path / "ctab")
        write_transcript_table(transcripts, path)

        one = transcripts.orderBy("conv_id", "turn_idx").limit(1)
        for i in range(3):
            upsert_transcripts(
                spark, path, one.withColumn("text", F.lit(f"v{i}"))
            )
        before = read_transcript_table(spark, path, drop_partition_cols=True)
        digest_before = sorted(
            (r["conv_id"], r["turn_idx"], r["text"], r["ts"])
            for r in before.collect()
        )
        n_files_before = len(
            glob.glob(f"{path}/ts_day=*/conv_bucket=*/*.parquet")
        )

        import os

        others_before = {
            f: os.path.getmtime(f)
            for f in glob.glob(f"{path}/ts_day=*/conv_bucket=*/*.parquet")
        }
        m = compact_partitions(spark, path, min_files=2)
        assert m["partitions_compacted"] >= 1
        assert m["files_after"] < n_files_before

        after = read_transcript_table(spark, path, drop_partition_cols=True)
        digest_after = sorted(
            (r["conv_id"], r["turn_idx"], r["text"], r["ts"])
            for r in after.collect()
        )
        assert digest_after == digest_before  # logical content unchanged
        # every compacted partition now has exactly 1 file
        from collections import Counter

        per_part = Counter(
            tuple(f.split(os.sep)[-3:-1])
            for f in glob.glob(f"{path}/ts_day=*/conv_bucket=*/*.parquet")
        )
        assert max(per_part.values()) == 1
        # untouched files (still present) kept their mtimes
        survivors = {
            f: t
            for f, t in others_before.items()
            if os.path.exists(f)
        }
        assert survivors and all(
            os.path.getmtime(f) == t for f, t in survivors.items()
        )

    def test_second_compaction_is_noop(self, spark, transcripts, tmp_path):
        """A fresh write leaves one file per TASK per partition, so the
        first compaction has work; the second must find nothing."""
        from protosc_spark.tables import (
            compact_partitions,
            write_transcript_table,
        )

        path = str(tmp_path / "ntab")
        write_transcript_table(transcripts, path)
        compact_partitions(spark, path, min_files=2)
        m = compact_partitions(spark, path, min_files=2)
        assert m["partitions_compacted"] == 0


# ---------------------------------------------------------------------------
# snapshot layer (Iceberg metadata model: time travel, rollback, expire)
# ---------------------------------------------------------------------------


def _correction_batch(tr):
    """Replace 3 texts, insert 2 turns, move 1 turn 3 days later."""
    first = tr.orderBy("conv_id", "turn_idx").limit(3)
    repl = first.withColumn("text", F.lit("CORRECTED"))
    ins = first.limit(2).select(
        "conv_id", (F.col("turn_idx") + 10_000).alias("turn_idx"),
        "role", F.lit("NEW").alias("text"), "tool", "ts",
    )
    mover = tr.orderBy(F.desc("conv_id"), F.desc("turn_idx")).limit(1)
    moved = mover.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 3 DAYS")
    ).withColumn("text", F.lit("MOVED"))
    return repl.unionByName(ins.select(*repl.columns)).unionByName(
        moved.select(*repl.columns)
    )


def _snapshot_fixture(spark, tmp_path):
    from protosc_spark.datagen import generate_transcripts
    from protosc_spark.tables import snapshot_upsert, snapshot_write

    tr = generate_transcripts(spark, n_conversations=40, seed=42)
    path = str(tmp_path / "snap_t")
    snapshot_write(tr, path)
    m = snapshot_upsert(spark, path, _correction_batch(tr))
    return tr, path, m


def test_snapshot_merge_and_time_travel(spark, tmp_path):
    """The MERGE replaces, inserts and moves without duplicate keys,
    AND every prior snapshot stays exactly readable (snapshot
    isolation)."""
    import pandas as pd

    from protosc_spark.tables import snapshot_read

    tr, path, m = _snapshot_fixture(spark, tmp_path)
    assert m["n_replaced"] == 4 and m["n_inserted"] == 2
    latest = snapshot_read(spark, path)
    assert latest.count() == tr.count() + 2
    assert latest.where("text='CORRECTED'").count() == 3
    assert latest.where("text='MOVED'").count() == 1
    assert (
        latest.groupBy("conv_id", "turn_idx").count()
        .where("count > 1").count() == 0
    )
    # time travel: snapshot 1 is byte-for-byte the original content
    a = (
        snapshot_read(spark, path, 1)
        .select("conv_id", "turn_idx", "text").toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    b = (
        tr.select("conv_id", "turn_idx", "text").toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_live_and_snapshot_merge_agree(spark, tmp_path):
    """One correction batch (replace, insert, cross-day move) through
    both commits gives equal summaries and equal rows, and the
    snapshot MERGE runs a pinned number of Spark jobs."""
    from protosc_spark.datagen import generate_transcripts
    from protosc_spark.tables import (
        read_transcript_table,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
        upsert_transcripts,
        write_transcript_table,
    )

    tr = generate_transcripts(spark, n_conversations=40, seed=42)
    tr = tr.localCheckpoint(eager=True)
    updates = _correction_batch(tr).localCheckpoint(eager=True)
    live, snap = str(tmp_path / "live"), str(tmp_path / "snap")
    write_transcript_table(tr, live)
    snapshot_write(tr, snap)
    m_live = upsert_transcripts(spark, live, updates)
    sc = spark.sparkContext
    sc.setJobGroup("snapshot_upsert", "jobs of one snapshot MERGE")
    try:
        m_snap = snapshot_upsert(spark, snap, updates)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("snapshot_upsert")
    assert m_snap.pop("snapshot_id") == 2
    assert m_live == m_snap == {
        "partitions_rewritten": m_live["partitions_rewritten"],
        "n_replaced": 4,
        "n_inserted": 2,
    }
    cols = ["ts_day", "conv_bucket", *tr.columns]
    a = read_transcript_table(spark, live).select(cols)
    b = snapshot_read(spark, snap).select(cols)
    assert a.count() == tr.count() + 2
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # two grouped collects plan the MERGE and one staged write commits
    # it; AQE runs each of their shuffle stages as a job of its own
    assert len(jobs) == 8


def test_snapshot_rollback_and_expire(spark, tmp_path):
    import pandas as pd
    import pytest

    from protosc_spark.tables import (
        expire_snapshots,
        snapshot_read,
        snapshot_rollback,
        snapshots,
    )

    tr, path, _ = _snapshot_fixture(spark, tmp_path)
    new_id = snapshot_rollback(path, 1)
    assert new_id == 3
    hist = snapshots(path)
    assert [h["operation"] for h in hist] == ["write", "merge", "rollback"]
    assert hist[-1]["rolled_back_to"] == 1
    c = (
        snapshot_read(spark, path).select("conv_id", "turn_idx", "text")
        .toPandas().sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        tr.select("conv_id", "turn_idx", "text").toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(c, b)
    # expire everything but the rollback: merge-only files get deleted
    ex = expire_snapshots(path, keep_last=1)
    assert ex["snapshots_expired"] == 2 and ex["files_deleted"] > 0
    assert snapshot_read(spark, path).count() == tr.count()
    with pytest.raises(ValueError, match="not found"):
        snapshot_read(spark, path, 2)


@pytest.mark.parametrize("layout", ["live", "snapshot"])
def test_snapshot_merge_can_empty_a_partition(spark, tmp_path, layout):
    """A MERGE that moves EVERY row out of a (day, bucket) partition
    drops that partition from the table in both layouts: the live
    commit deletes its directory, the snapshot commit leaves it out of
    the new manifest while time travel still shows it."""
    from protosc_spark import tables as T
    from protosc_spark.datagen import generate_transcripts

    write, read, upsert = {
        "live": (T.write_transcript_table, T.read_transcript_table,
                 T.upsert_transcripts),
        "snapshot": (T.snapshot_write, T.snapshot_read, T.snapshot_upsert),
    }[layout]
    tr = generate_transcripts(spark, n_conversations=20, seed=7)
    path = str(tmp_path / "snap_e")
    write(tr, path)
    before = read(spark, path)
    # pick the smallest partition and move all of its rows +30 days
    day, bucket, _n = (
        before.groupBy("ts_day", "conv_bucket").count()
        .orderBy("count", "ts_day", "conv_bucket").first()
    )
    in_victim = (F.col("ts_day") == F.lit(day)) & (
        F.col("conv_bucket") == bucket
    )
    victim = before.where(in_victim).select(*tr.columns)
    updates = victim.withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
    upsert(spark, path, updates.localCheckpoint(eager=True))
    after = read(spark, path)
    assert after.where(in_victim).count() == 0
    assert after.count() == tr.count()  # rows moved, none lost
    assert (
        after.groupBy("conv_id", "turn_idx").count()
        .where("count > 1").count() == 0
    )
    if layout == "snapshot":
        assert T.snapshot_read(spark, path, 1).where(in_victim).count() > 0


def test_snapshot_read_keeps_partition_pruning(spark, tmp_path):
    from protosc_spark.datagen import generate_transcripts
    from protosc_spark.tables import snapshot_read, snapshot_write

    tr = generate_transcripts(spark, n_conversations=20, seed=7)
    path = str(tmp_path / "snap_p")
    snapshot_write(tr, path)
    plan = (
        snapshot_read(spark, path)
        .where(F.col("ts_day") == "2024-01-02")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    assert "ts_day" in plan.split("PartitionFilters", 1)[1][:120]


def test_snapshot_compact_preserves_content_and_history(spark, tmp_path):
    """Two MERGEs fragment partitions; compaction rewrites them into
    fewer files under a NEW snapshot with identical logical content,
    while the pre-compaction snapshot still reads the old files."""
    import pandas as pd

    from protosc_spark.datagen import generate_transcripts
    from protosc_spark.tables import (
        snapshot_compact,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
        snapshots,
    )

    tr = generate_transcripts(spark, n_conversations=30, seed=11)
    path = str(tmp_path / "snap_c")
    snapshot_write(tr, path)
    for salt in ("X", "Y"):  # two merges -> touched partitions gain files
        upd = (
            tr.orderBy("conv_id", "turn_idx").limit(6)
            .withColumn("text", F.concat(F.lit(salt + " "), F.col("text")))
        )
        snapshot_upsert(spark, path, upd)
    pre = snapshots(path)[-1]
    before = (
        snapshot_read(spark, path)
        .select("conv_id", "turn_idx", "text").toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    m = snapshot_compact(spark, path, min_files=2)
    assert m["partitions_compacted"] >= 1
    assert m["files_after"] < m["files_before"]
    hist = snapshots(path)
    assert hist[-1]["operation"] == "compact"
    assert hist[-1]["n_files"] < pre["n_files"]
    after = (
        snapshot_read(spark, path)
        .select("conv_id", "turn_idx", "text").toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(after, before)
    # the pre-compaction snapshot still reads its fragmented files
    assert (
        snapshot_read(spark, path, pre["snapshot_id"]).count()
        == len(before)
    )
    # idempotent: nothing left to compact
    again = snapshot_compact(spark, path, min_files=2)
    assert again["partitions_compacted"] == 0

"""Incremental daily feature backfill (protosc_spark.backfill): the
refreshed feature table must be ROW-IDENTICAL to a from-scratch
flagship run over the full transcript table — including the hard
case, a mid-conversation CORRECTION whose effect propagates to every
later turn of that conversation (lag/rolling/session features)."""

from pyspark.sql import functions as F

from protosc_spark.backfill import incremental_backfill
from protosc_spark.datagen import generate_transcripts
from protosc_spark.pipeline import flagship_features
from protosc_spark.tables import (
    snapshot_read,
    snapshot_upsert,
    snapshot_write,
    snapshots,
)


def _assert_feature_tables_equal(got, want):
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_late_day_backfill_equals_full_recompute(spark, tmp_path):
    tr = generate_transcripts(spark, n_conversations=14, seed=3)
    tr = tr.localCheckpoint(eager=True)
    days = sorted(
        r["d"] for r in tr.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    last = str(days[-1])
    early = tr.where(F.to_date("ts") < last)
    tpath, fpath = str(tmp_path / "t"), str(tmp_path / "f")
    snapshot_write(early, tpath)
    feats0, _ = flagship_features(early)
    snapshot_write(feats0, fpath)
    # the new day lands, then one incremental backfill
    snapshot_upsert(spark, tpath, tr.where(F.to_date("ts") == last))
    m = incremental_backfill(spark, tpath, fpath, last)
    assert m["n_convs"] >= 1 and m["n_rows_refreshed"] >= m["n_convs"]
    full, _ = flagship_features(tr)
    _assert_feature_tables_equal(
        snapshot_read(spark, fpath).select(*full.columns), full
    )


def test_correction_backfill_propagates_to_later_turns(spark, tmp_path):
    """Correct ONE mid-conversation turn's text on an early day: the
    backfill of that day must refresh the conversation's later turns
    too (their lag/rolling features depend on the corrected text), and
    the result must equal the full recompute over corrected data."""
    tr = generate_transcripts(spark, n_conversations=14, seed=3)
    tr = tr.localCheckpoint(eager=True)
    tpath, fpath = str(tmp_path / "t"), str(tmp_path / "f")
    snapshot_write(tr, tpath)
    feats0, _ = flagship_features(tr)
    snapshot_write(feats0, fpath)
    # pick a turn that has at least 3 successors in its conversation
    counts = (
        tr.groupBy("conv_id").count().where("count >= 5").orderBy("conv_id")
    )
    conv = counts.first()["conv_id"]
    victim = (
        tr.where(F.col("conv_id") == conv).orderBy("turn_idx").limit(2)
        .orderBy(F.desc("turn_idx")).limit(1)
    )
    fix = victim.withColumn(
        "text", F.concat(F.lit("corrected words here now "), F.col("text"))
    )
    day = str(fix.select(F.to_date("ts")).first()[0])
    snapshot_upsert(spark, tpath, fix)
    # a bucket count unlike the feature table's (8): the MERGE must
    # take the table's own count from its manifest
    m = incremental_backfill(spark, tpath, fpath, day, n_buckets=64)
    assert m["n_rows_refreshed"] > 1  # whole conversations, not 1 row
    corrected = snapshot_read(spark, tpath).select(*tr.columns)
    full, _ = flagship_features(corrected)
    got = snapshot_read(spark, fpath).select(*full.columns)
    _assert_feature_tables_equal(got, full)
    # the correction genuinely changed later turns' features
    before = feats0.where(F.col("conv_id") == conv)
    after = got.where(F.col("conv_id") == conv)
    changed = after.exceptAll(before).count()
    assert changed > 1
    # and the feature table's history shows the merge as a snapshot
    assert [s["operation"] for s in snapshots(fpath)] == ["write", "merge"]


def test_backfill_empty_day_is_a_noop(spark, tmp_path):
    tr = generate_transcripts(spark, n_conversations=6, seed=5)
    tpath, fpath = str(tmp_path / "t"), str(tmp_path / "f")
    snapshot_write(tr, tpath)
    feats0, _ = flagship_features(tr)
    snapshot_write(feats0, fpath)
    m = incremental_backfill(spark, tpath, fpath, "1999-12-31")
    assert m == {"day": "1999-12-31", "n_convs": 0,
                 "n_rows_refreshed": 0, "snapshot_id": None}
    assert len(snapshots(fpath)) == 1  # no new snapshot committed

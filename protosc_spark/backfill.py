"""Incremental (daily) feature backfill — the production workflow the
north rule's table layout exists for: when a day of transcripts lands
(or is corrected), refresh the feature table for ONLY the
conversations that day touched, reading just their buckets' history,
and commit the refresh as one snapshot-isolated MERGE. Cost is
O(affected conversations), never O(table) — the property that makes a
daily load on a 100 TB table a small job instead of a full recompute.

Correctness invariant (pinned by the gate's self-check and the
pytest): after backfilling day D, the feature table is ROW-IDENTICAL
to a from-scratch flagship run over the full transcript table.
Recomputing whole affected conversations (not just day-D turns) is
what makes this true: every flagship feature is a function of the
turn's own conversation prefix (lag/rolling/session features), so a
new or corrected turn can change features of LATER turns in the same
conversation — a day-only refresh would leave those stale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from protosc_spark.tables import (
    DEFAULT_BUCKETS,
    _load_manifests,
    snapshot_read,
    snapshot_upsert,
    snapshot_write,
)


def incremental_backfill(
    spark: SparkSession,
    table_path: str,
    features_path: str,
    day: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> dict:
    """Refresh ``features_path`` for every conversation with activity
    on ``day`` (YYYY-MM-DD) in the transcript table at ``table_path``
    (both snapshot tables).

    Plan shape: the day's partitions (pruned scan) yield the affected
    conversation keys, counted per bucket in one collect; their FULL
    history is read from only their buckets (static bucket pruning + a
    broadcast semi-join on conv_id); flagship features are recomputed
    for those conversations alone; the result snapshot-MERGEs into the
    feature table, whose summary gives the refreshed row count. The
    first call bootstraps the feature table with a plain snapshot
    write; ``n_buckets`` sets only that new table's layout (a MERGE
    uses the bucket count in the table's manifest). Nothing in the
    job scales with the table — only with the day's blast radius.
    """
    from protosc_spark.pipeline import flagship_features

    table = snapshot_read(spark, table_path)
    day_rows = table.where(F.col("ts_day") == F.lit(day).cast("date"))
    convs = day_rows.select("conv_id", "conv_bucket").distinct()
    per_bucket = convs.groupBy("conv_bucket").count().collect()
    if not per_bucket:
        return {"day": day, "n_convs": 0, "n_rows_refreshed": 0,
                "snapshot_id": None}
    buckets = sorted(r["conv_bucket"] for r in per_bucket)
    hist = table.where(F.col("conv_bucket").isin(buckets)).join(
        F.broadcast(convs.select("conv_id")), "conv_id", "left_semi"
    )
    feats, _reg = flagship_features(
        hist.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    feats = feats.localCheckpoint(eager=True)  # the MERGE reads it 3x
    if _load_manifests(features_path):
        m = snapshot_upsert(spark, features_path, feats)
        snap, n_rows = m["snapshot_id"], m["n_replaced"] + m["n_inserted"]
    else:
        snap = snapshot_write(feats, features_path, n_buckets=n_buckets)
        n_rows = feats.count()
    return {
        "day": day,
        "n_convs": sum(r["count"] for r in per_bucket),
        "n_rows_refreshed": int(n_rows),
        "snapshot_id": snap,
    }

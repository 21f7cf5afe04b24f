"""Point-in-time (as-of) join.

Semantics: for each left row (entity, ts), attach the value of the most
recent right row for the same entity with ``right.ts < left.ts``
(STRICT past — an update stamped exactly at the turn's ts is NOT
visible at that turn; zero temporal leakage). Entities with no prior
update get null (backfill-null). Value columns are carried
ROW-ATOMICALLY: all output values come from that single most recent
right row, so a NULL field in it stays NULL (no per-column backfill
from older rows). A right row whose ts is NULL has no known time, so
it is never in the strict past of any turn and is dropped (pandas
``merge_asof`` refuses NULL keys outright).

Spark has no native as-of join. One kernel, :func:`_asof`, does the
work: left and right rows are unioned with a source tag, each right
row's values travel as ONE struct, and a per-entity ordered window
carries the latest struct forward with ``last(ignorenulls)``
— one shuffle on the entity key, fully JVM-side (whole-stage codegen,
no Python), skew handled by AQE. Three entry points call it:

* :func:`asof_join` — one update stream, output columns unprefixed;
* :func:`asof_snapshot` — K named update streams in one window pass,
  output columns ``{stream}_{col}``;
* :func:`asof_join_time_split` — the skew path: partitions by (entity,
  time bucket) and builds the cross-bucket carry-in with
  :func:`asof_join` at bucket granularity.

The reference has no join of any kind (label alignment is positional,
reference examples/nimstim.py:74-83); this operator comes from the
north rule.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from protosc_spark.windows import _epoch_us


def _asof(
    left: DataFrame,
    rights: dict[str, DataFrame],
    on: str,
    by: list[str],
    value_cols: dict[str, list[str]],
    allow_exact_matches: bool,
    tolerance_seconds: dict[str, float],
    out_name: Callable[[str, str], str],
) -> DataFrame:
    """The union-tag carry kernel behind every public as-of join.

    Stream ``nm`` of ``rights`` contributes ``value_cols[nm]``, output
    as ``out_name(nm, col)``; a stream in ``tolerance_seconds`` has its
    match nulled row-atomically once it is staler than that bound.

    Tag: left rows get ``__src=0``, right rows ``1``, and the window
    orders by ``(ts, __src)``: at equal ts a right row sorts after the
    left row, so it is invisible (strict past). With exact matches
    allowed, right rows get ``-1`` and sort first. Each stream's values
    ride in their own struct column ``__v_i`` (NULL on every other
    row), so the K carries share one sort, and ``last(ignorenulls)``
    carries the latest row of each stream atomically. The structs are
    also the last sort keys, so duplicate right rows at the same
    (entity, ts) resolve to the lexicographically largest value row at
    any parallelism.
    """
    names = list(rights)
    right_src = -1 if allow_exact_matches else 1

    def _fields(nm: str) -> list[tuple[str, str]]:
        # (struct field, source column). The matched right ts rides LAST
        # for the tolerance check, so the duplicate-row tiebreak still
        # compares the value columns first (rows tied on (by, ts) share
        # __rts).
        return [(c, c) for c in value_cols[nm]] + (
            [("__rts", on)] if nm in tolerance_seconds else []
        )

    vtypes = {
        nm: T.StructType(
            [
                T.StructField(f, rights[nm].schema[src].dataType, True)
                for f, src in _fields(nm)
            ]
        )
        for nm in names
    }
    lhs = left.select(
        *by,
        F.col(on).alias("__ts"),
        F.lit(0).alias("__src"),
        F.struct(*left.columns).alias("__row"),
        *[
            F.lit(None).cast(vtypes[nm]).alias(f"__v_{i}")
            for i, nm in enumerate(names)
        ],
    )
    unioned = lhs
    for i, nm in enumerate(names):
        unioned = unioned.unionByName(
            rights[nm]
            .where(F.col(on).isNotNull())
            .select(
                *by,
                F.col(on).alias("__ts"),
                F.lit(right_src).alias("__src"),
                F.lit(None).cast(lhs.schema["__row"].dataType).alias("__row"),
                *[
                    (
                        F.struct(*[F.col(src).alias(f) for f, src in _fields(nm)])
                        if j == i
                        else F.lit(None).cast(vtypes[n2])
                    ).alias(f"__v_{j}")
                    for j, n2 in enumerate(names)
                ],
            )
        )

    w = (
        W.partitionBy(*by)
        .orderBy(
            F.col("__ts").asc(),
            F.col("__src").asc(),
            *[F.col(f"__v_{i}").asc_nulls_first() for i in range(len(names))],
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = unioned.select(
        "__row",
        *[
            F.last(F.col(f"__v_{i}"), ignorenulls=True).over(w).alias(f"__f_{i}")
            for i in range(len(names))
        ],
    ).where(F.col("__row").isNotNull())

    out = [F.col(f"__row.{c}").alias(c) for c in left.columns]
    for i, nm in enumerate(names):
        vals = [(F.col(f"__f_{i}.{c}"), out_name(nm, c)) for c in value_cols[nm]]
        if nm in tolerance_seconds:
            fresh = F.col(f"__f_{i}.__rts").isNotNull() & (
                _epoch_us(F.col(f"__row.{on}"))
                - _epoch_us(F.col(f"__f_{i}.__rts"))
                <= F.lit(int(tolerance_seconds[nm] * 1_000_000)).cast("long")
            )
            vals = [(F.when(fresh, v), o) for v, o in vals]
        out += [v.alias(o) for v, o in vals]
    return filled.select(*out)


def _value_cols(right: DataFrame, on: str, by: list[str]) -> list[str]:
    return [c for c in right.columns if c not in set(by) | {on}]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | Sequence[str] = "conv_id",
    value_cols: Sequence[str] | None = None,
    allow_exact_matches: bool = False,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Backward as-of join against one update stream.

    ``left`` keeps all its columns; for each name in ``value_cols``
    (default: every right column not in the key) a column with the
    as-of value is appended.

    ``tolerance_seconds`` bounds feature STALENESS (pandas merge_asof
    semantics): a match older than the tolerance is nulled out row-
    atomically — the standard point-in-time knob for "an attribute
    update from last month must not leak into today's feature". The
    matched right ts rides inside the carried struct, so this costs no
    extra shuffle: same one-exchange plan, one extra comparison.
    """
    by = [by] if isinstance(by, str) else list(by)
    return _asof(
        left,
        {"": right},
        on,
        by,
        {"": list(value_cols if value_cols is not None
                  else _value_cols(right, on, by))},
        allow_exact_matches,
        {} if tolerance_seconds is None else {"": tolerance_seconds},
        lambda nm, c: c,
    )


def asof_join_time_split(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "conv_id",
    value_cols: Sequence[str] | None = None,
    allow_exact_matches: bool = False,
    split_seconds: int = 86400,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Backward as-of join with TIME-RANGE SPLITTING and boundary
    carry-in — the skew path for conversations too large for one task.

    Partition key is ``(entity, time bucket)`` instead of the entity,
    so a single giant conversation spreads over ``duration /
    split_seconds`` independent partitions. Correctness across bucket
    boundaries: for every (entity, left bucket) the latest right row
    from any EARLIER bucket is found by :func:`asof_join` at bucket
    granularity (keys: the distinct left (entity, bucket) pairs; right
    side: one latest row per (entity, bucket)) and injected into the
    bucket as a synthetic right row — the "carry the last pre-boundary
    state row into the next bucket" design from SURVEY.md §7.3. Inside
    each (entity, bucket), the merge is :func:`asof_join` partitioned
    by (entity, bucket).

    Equality with :func:`asof_join` for every split_seconds is pinned
    in tests/test_asof.py.
    """
    value_cols = list(
        value_cols if value_cols is not None else _value_cols(right, on, [by])
    )
    us = F.lit(int(split_seconds) * 1_000_000)

    def _bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__t", F.floor(_epoch_us(F.col(on)) / us).cast("long")
        )

    lb = _bucketed(left)
    rb = _bucketed(
        right.select(by, on, *value_cols).where(F.col(on).isNotNull())
    )

    # carry-in: the latest right row of any earlier bucket, per (entity,
    # left bucket). The per-bucket latest row (deterministic value
    # tiebreak) travels as ONE struct with its ts, so a NULL inside it
    # is carried as NULL, never backfilled from an older row, and the
    # strict-past rule on __t makes a bucket's row visible only to later
    # buckets.
    w_last = W.partitionBy(by, "__t").orderBy(
        F.col(on).desc(),
        *[F.col(c).desc_nulls_last() for c in value_cols],
    )
    rlast = (
        rb.withColumn("__rn", F.row_number().over(w_last))
        .where(F.col("__rn") == 1)
        .select(
            by,
            "__t",
            F.struct(F.col(on).alias("__cts"), *value_cols).alias("__crow"),
        )
    )
    carry = (
        asof_join(
            lb.select(by, "__t").distinct(),
            rlast,
            on="__t",
            by=by,
            value_cols=["__crow"],
        )
        .where(F.col("__crow").isNotNull())
        .select(
            by,
            "__t",
            F.col("__crow.__cts").alias(on),
            *[F.col(f"__crow.{c}").alias(c) for c in value_cols],
        )
    )
    # synthetic right rows land in the LEFT bucket they serve; their ts is
    # the original update ts (< bucket start by construction), so they
    # sort before every in-bucket left row and never tie an in-bucket
    # right row. Tolerance passes straight through for the same reason:
    # the staleness check measures true update age across buckets too.
    return asof_join(
        lb,
        rb.unionByName(carry),
        on=on,
        by=[by, "__t"],
        value_cols=value_cols,
        allow_exact_matches=allow_exact_matches,
        tolerance_seconds=tolerance_seconds,
    ).drop("__t")


def asof_snapshot(
    left: DataFrame,
    rights: "dict[str, DataFrame]",
    on: str = "ts",
    by: str | Sequence[str] = "conv_id",
    value_cols: "dict[str, Sequence[str]] | None" = None,
    allow_exact_matches: bool = False,
    tolerance_seconds: "dict[str, float] | None" = None,
) -> DataFrame:
    """Point-in-time snapshot against K update streams in ONE pass —
    the feature-store join: for every left row, the latest
    strictly-earlier row of EACH named stream, with one shuffle and
    one sort where K separate :func:`asof_join` calls would pay K.

    Each stream's carry is row-atomic, and equal-ts visibility and the
    duplicate-row tiebreak match :func:`asof_join` exactly (pinned:
    K-stream result == K single-stream joins, column for column).
    Per-stream ``tolerance_seconds`` nulls a stream's match
    row-atomically once it is staler than that stream's bound.

    Output: left columns + ``{stream}_{col}`` for every value column
    of every stream. Skew note: same entity-keyed window as
    asof_join — for giant entities use the (entity, bucket) carry-in
    of asof_join_time_split per stream instead.
    """
    by = [by] if isinstance(by, str) else list(by)
    value_cols = dict(value_cols or {})
    return _asof(
        left,
        dict(rights),
        on,
        by,
        {
            nm: list(value_cols[nm] if nm in value_cols
                     else _value_cols(r, on, by))
            for nm, r in rights.items()
        },
        allow_exact_matches,
        dict(tolerance_seconds or {}),
        lambda nm, c: f"{nm}_{c}",
    )

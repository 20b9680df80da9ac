"""Time-series operators over event streams: the as-of join.

Spark has no ASOF JOIN (SPARK-22947 open since 2017); the standard
workarounds — a theta-join on `l.ts >= r.ts` + argmax, or a range-bucketed
self-join — either materialize quadratic pair rows or hand-tune bucket
widths. The scale-correct plan is the UNION + WINDOW formulation: tag both
sides, union them, and carry the latest right-side row forward with
``last(..., ignorenulls=True)`` over a (key, ts)-ordered window — one
shuffle on the key, linear rows, no pair blowup, the same shape a
1000-executor cluster wants.

The DuckDB oracle uses its NATIVE ``ASOF LEFT JOIN`` — a genuinely
independent implementation of the semantics, not a formulation twin — so
driver parity checks the operator against a second engine's definition of
"latest right row at-or-before each left row".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    left_id_col: str = "event_id",
    value_cols: tuple[str, ...] = ("value",),
    tie_col: str | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """For every left row, attach the LATEST right row with
    ``right.ts <= left.ts`` in the same key group (inclusive: an equal-ts
    right row matches, the ASOF convention). Returns
    (left_id, key, ts, ts+suffix, value+suffix...) — join other left
    columns back by the id; rows with no prior right row keep nulls
    (left-join semantics).

    ``tie_col``: when two right rows share an exact (key, ts), the one
    with the maximum tie value wins — without this the match would be
    partition-order-dependent and no two engines (or two runs) would have
    to agree. Right-side ties are deduped with one window pass BEFORE the
    union, so the carry-forward sees a total order.

    The carry-forward window sorts each key group on one reducer — correct
    at any size, but a key owning 10⁹ rows serializes."""
    rsel = right.select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__ts"),
        *[F.col(c) for c in value_cols],
    )
    if tie_col is not None:
        wt = Window.partitionBy("__k", "__ts").orderBy(F.col("__tie").desc())
        rsel = (
            right.select(
                F.col(key_col).alias("__k"),
                F.col(ts_col).alias("__ts"),
                F.col(tie_col).alias("__tie"),
                *[F.col(c) for c in value_cols],
            )
            .withColumn("__rn", F.row_number().over(wt))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__tie")
        )
    rpack = rsel.select(
        "__k",
        "__ts",
        F.lit(0).alias("__side"),
        F.lit(None).cast("long").alias("__lid"),
        F.struct(
            F.col("__ts").alias("rts"), *[F.col(c).alias(c) for c in value_cols]
        ).alias("__r"),
    )
    rtype = dict(rpack.dtypes)["__r"]
    lpack = left.select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__ts"),
        F.lit(1).alias("__side"),
        F.col(left_id_col).cast("long").alias("__lid"),
        F.lit(None).cast(rtype).alias("__r"),
    )
    # right rows sort before left rows at equal ts (__side 0 < 1), so an
    # equal-ts right row IS visible to the left row — inclusive semantics
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        rpack.unionByName(lpack)
        .withColumn("__c", F.last("__r", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
    )
    return carried.select(
        F.col("__lid").alias(left_id_col),
        F.col("__k").alias(key_col),
        F.col("__ts").alias(ts_col),
        F.col("__c.rts").alias(f"{ts_col}{suffix}"),
        *[F.col(f"__c.{c}").alias(f"{c}{suffix}") for c in value_cols],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    key_col: str,
    ts_col: str,
    start_col: str,
    end_col: str,
    value_cols: tuple[str, ...] = (),
    bucket: int = 1800,
) -> DataFrame:
    """Point-in-interval join (``start <= ts <= end`` within a key group)
    without the nested-loop theta join Spark would otherwise plan: both
    sides bucketize time (integer ``div`` on LONG columns — callers
    convert timestamps with ``wall_epoch_seconds`` first, keeping the
    whole operator in the engine-neutral integer domain), intervals
    replicate to every bucket they overlap, and the join is a plain
    equi-join on (key, bucket) with the exact range predicate as a
    post-filter. A point lives in exactly ONE bucket, so no dedup pass is
    needed. Replication factor = interval_len/bucket + 1 — pick ``bucket``
    near the median interval length (the standard bucketed-range-join
    tuning; Databricks ships the same idea as a join hint).

    Returns every point column plus the matched interval's
    ``value_cols``; points matching no interval are dropped (inner)."""
    p = points.withColumn("__b", F.expr(f"{ts_col} div {bucket}"))
    i = intervals.select(
        F.col(key_col).alias("__ik"),
        F.col(start_col).alias("__s"),
        F.col(end_col).alias("__e"),
        *[F.col(c) for c in value_cols],
    ).withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.expr(f"__s div {bucket}"), F.expr(f"__e div {bucket}")
            )
        ),
    )
    j = p.join(
        i,
        (p[key_col] == i["__ik"])
        & (p["__b"] == i["__b"])
        & (p[ts_col] >= i["__s"])
        & (p[ts_col] <= i["__e"]),
    )
    return j.select(*[points[c] for c in points.columns], *[F.col(c) for c in value_cols])

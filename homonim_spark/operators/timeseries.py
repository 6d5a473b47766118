"""Time-series joins the DataFrame API lacks as primitives.

The reference engine family (and every training-data pipeline joining
event logs to slowly-changing state) needs an as-of join: each left row
matched to the single right row with the greatest timestamp at-or-before
it (per key).  Spark has no ASOF JOIN operator; the naive encodings are
a range join (O(n·m) candidate explosion) or a per-key collect.  This
module uses the scalable union-sort-fill pattern instead:

  tag rows with their side -> union -> ONE hash exchange on the key ->
  per-partition sort by (ts, side) -> last(right_payload, ignorenulls)
  over an unbounded-preceding running frame -> keep left rows.

One shuffle, no candidate explosion, per-key memory O(1) beyond the
sort: the same cost class as any window function, at any fan-in ratio.
Skewed keys degrade exactly like sessionize (per-key sort), not like a
range join (per-key cross product).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "range_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str] | tuple[str, ...] = ("user_id",),
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Left as-of join on the time column ``ts`` of both sides: for each
    left row, the single right row with the greatest ``ts`` ≤ the left
    row's (``direction='backward'``), or the smallest ≥ it
    (``'forward'``), within the same ``by`` key.  Equal
    timestamps match.  Unmatched left rows keep NULL right columns (left
    outer semantics).  ``tolerance_seconds`` drops matches farther than
    the given gap (pandas ``merge_asof`` semantics).

    Right columns that collide with left column names (or the key/time
    columns) come back with ``_right`` appended.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    by = list(by)
    on = "ts"
    # at equal ts the right row must fall INSIDE the left row's frame:
    # backward frame is [start..current] -> right sorts first; forward
    # frame is [current..end] -> right sorts last
    l_side, r_side = (1, 0) if direction == "backward" else (0, 1)

    r_payload = F.struct(*[F.col(c) for c in right.columns]).alias("_r")
    l_payload = F.struct(*[F.col(c) for c in left.columns]).alias("_l")
    # a NULL right timestamp sorts FIRST ascending and would become the
    # running match for every left row (pandas merge_asof refuses NaT
    # keys outright); such rows can match nothing — drop them
    rs = (right.filter(F.col(on).isNotNull())
          .select(*by, F.col(on).alias("_t"),
                  F.lit(r_side).alias("_side"), r_payload))
    ls = left.select(*by, F.col(on).alias("_t"),
                     F.lit(l_side).alias("_side"), l_payload)
    r_type = rs.schema["_r"].dataType
    l_type = ls.schema["_l"].dataType
    u = (ls.withColumn("_r", F.lit(None).cast(r_type))
         .unionByName(rs.withColumn("_l", F.lit(None).cast(l_type))))

    # third key: among several right rows at the same (key, ts) the match
    # is the payload-struct max (deterministic; sides never interleave
    # because _side already separates them at equal _t)
    w = Window.partitionBy(*by).orderBy("_t", "_side", "_r")
    if direction == "backward":
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        matched = F.last("_r", ignorenulls=True).over(w)
    else:
        w = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        matched = F.first("_r", ignorenulls=True).over(w)

    out = u.withColumn("_m", matched).filter(F.col("_l").isNotNull())
    if tolerance_seconds is not None:
        gap = F.abs(F.col("_t").cast("double")
                    - F.col("_m")[on].cast("double"))
        out = out.withColumn(
            "_m", F.when(gap <= float(tolerance_seconds), F.col("_m")))

    taken = set(left.columns)
    cols: list[Column] = [F.col("_l")[c].alias(c) for c in left.columns]
    for c in right.columns:
        name = c + "_right" if c in taken or c in by else c
        cols.append(F.col("_m")[c].alias(name))
    return out.select(*cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
) -> DataFrame:
    """Inner join of points to half-open intervals ``[lo, hi)`` without a
    cross-product: intervals explode into the fixed-width buckets they
    cover, points compute their single bucket, and a plain equi-join on
    the bucket + the exact containment filter does the rest.  Right
    columns that collide with left column names come back with ``_right``
    appended.

    Catalyst plans a raw ``l.v >= r.lo AND l.v < r.hi`` predicate as
    BroadcastNestedLoopJoin — O(|L|·|R|) compares even when each point
    falls in few intervals.  Bucketizing makes the candidate volume
    O(|L| + Σ interval_width/bucket_width) and the join a hash join that
    shuffles only on the bucket — the standard interval-join strategy
    (Flink/KDB): pick ``bucket_width`` near the median interval width so
    most intervals explode into O(1) buckets.
    """
    bw = float(bucket_width)
    l_bkt = F.floor(F.col(left_val) / bw)
    # half-open [lo, hi): the hi boundary's bucket is needed only when the
    # interval extends into it (hi not on a bucket edge handled by the
    # sequence bound below; exact filter removes any overshoot)
    r_lo_b = F.floor(F.col(right_lo) / bw)
    r_hi_b = F.floor(F.col(right_hi) / bw)
    exploded = right.withColumn(
        "_bkt", F.explode(F.sequence(r_lo_b.cast("long"),
                                     r_hi_b.cast("long"))))
    # rename colliding right columns BEFORE the join so the containment
    # filter and output projection are never ambiguous
    taken = set(left.columns)
    renames = {c: (c + "_right" if c in taken else c) for c in right.columns}
    for old, new in renames.items():
        if new != old:
            exploded = exploded.withColumnRenamed(old, new)
    tagged = left.withColumn("_bkt", l_bkt.cast("long"))
    joined = tagged.join(exploded, on=["_bkt"], how="inner").filter(
        (F.col(left_val) >= F.col(renames[right_lo]))
        & (F.col(left_val) < F.col(renames[right_hi])))
    return joined.select(*[F.col(c) for c in left.columns],
                         *[F.col(n) for n in renames.values()])

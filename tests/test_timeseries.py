"""asof_join: semantics vs a hand-computed oracle + plan shape.

The reference family's pipelines join event streams to slowly-changing
state; Spark lacks an ASOF primitive, so operators/timeseries.py builds
it from union + one window.  These tests pin the match rule (greatest
right ts ≤ left ts per key, equal ts matches, left outer), direction,
tolerance, suffixing, and that the plan carries exactly ONE exchange.
"""
import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from homonim_spark.operators.timeseries import asof_join, range_join


def _ts(m, s=0):
    return dt.datetime(2024, 1, 1, 0, m, s)


@pytest.fixture()
def sides(spark):
    left = spark.createDataFrame(
        [(1, "u1", _ts(5)), (2, "u1", _ts(10)), (3, "u2", _ts(7)),
         (4, "u3", _ts(1))],
        "lid int, user string, ts timestamp")
    right = spark.createDataFrame(
        [(10, "u1", _ts(5)), (11, "u1", _ts(9)), (12, "u1", _ts(11)),
         (13, "u2", _ts(2))],
        "rid int, user string, ts timestamp")
    return left, right


def test_backward_matches_latest_at_or_before(spark, sides):
    left, right = sides
    out = asof_join(left, right, by=["user"]).toPandas()
    got = {r.lid: r.rid for r in out.itertuples(index=False)}
    assert got[1] == 10          # equal ts matches
    assert got[2] == 11          # 9 < 10, not 11 (future)
    assert got[3] == 13
    assert got[4] != got[4]      # u3 has no right rows -> NaN (left outer)
    assert len(out) == 4


def test_forward_matches_earliest_at_or_after(spark, sides):
    left, right = sides
    out = asof_join(left, right, by=["user"],
                    direction="forward").toPandas()
    got = {r.lid: r.rid for r in out.itertuples(index=False)}
    assert got[1] == 10          # equal ts matches forward too
    assert got[2] == 12          # next at 11
    assert got[3] != got[3]      # u2 has nothing at/after minute 7


def test_tolerance_drops_stale_matches(spark, sides):
    left, right = sides
    out = asof_join(left, right, by=["user"],
                    tolerance_seconds=120).toPandas()
    got = {r.lid: r.rid for r in out.itertuples(index=False)}
    assert got[1] == 10 and got[2] == 11
    assert got[3] != got[3]      # u2's only prior click is 5 min stale


def test_collision_suffix_and_column_set(spark, sides):
    left, right = sides
    out = asof_join(left, right, by=["user"])
    assert out.columns == ["lid", "user", "ts", "rid", "user_right",
                           "ts_right"]


def test_single_exchange_plan(spark, sides):
    left, right = sides
    plan = asof_join(left, right,
                     by=["user"])._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


@pytest.fixture()
def intervals(spark):
    pts = spark.createDataFrame(
        [(1, 0.0), (2, 3.5), (3, 10.0), (4, 9.999), (5, 25.0), (6, -1.0)],
        "pid int, v double")
    ivs = spark.createDataFrame(
        [(10, 0.0, 10.0), (11, 10.0, 20.0), (12, 5.0, 15.0)],
        "iid int, lo double, hi double")
    return pts, ivs


def test_range_join_half_open_and_overlap(spark, intervals):
    pts, ivs = intervals
    out = range_join(pts, ivs, "v", "lo", "hi", bucket_width=4.0).toPandas()
    got = {(r.pid, r.iid) for r in out.itertuples(index=False)}
    assert got == {
        (1, 10),             # lo inclusive
        (2, 10),
        (3, 11), (3, 12),    # hi exclusive for 10, overlap 11+12
        (4, 10), (4, 12),    # just under the boundary
    }                        # 5 outside all bands, 6 negative -> no match


def test_range_join_is_a_hash_join_not_nested_loop(spark, intervals):
    pts, ivs = intervals
    plan = range_join(pts, ivs, "v", "lo", "hi", bucket_width=4.0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan
    assert "Join" in plan


def test_hash_split_partition_invariant_and_exhaustive(spark):
    """Split membership must depend only on the key, never on
    partitioning; bands must be disjoint-exhaustive over the granularity
    with the remainder NULL."""
    from homonim_spark.operators.sampling import hash_split
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = hash_split(df.repartition(1), "k", {"train": 0.7, "val": 0.2},
                   salt="s").toPandas().set_index("k")["split"]
    b = hash_split(df.repartition(13), "k", {"train": 0.7, "val": 0.2},
                   salt="s").toPandas().set_index("k")["split"]
    assert a.sort_index().equals(b.sort_index())
    counts = a.value_counts(dropna=False)
    # ~70/20/10 at 2000 keys (md5 uniformity; wide tolerance, no flake)
    assert 0.6 < counts["train"] / 2000 < 0.8
    assert 0.12 < counts["val"] / 2000 < 0.28
    assert a.isna().sum() > 0                 # remainder excluded as NULL
    # a different salt reassigns (independence across holdout versions)
    c = hash_split(df, "k", {"train": 0.7, "val": 0.2},
                   salt="other").toPandas().set_index("k")["split"]
    assert not a.sort_index().equals(c.sort_index())


def test_hash_split_rejects_overfull_fractions(spark):
    from homonim_spark.operators.sampling import hash_split
    df = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError):
        hash_split(df, "k", {"a": 0.8, "b": 0.3})


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _asof_case(draw):
    # unique (key, ts) on each side — pandas merge_asof breaks right-side
    # same-ts ties by position, our operator by payload max; keep the
    # property comparable by never generating that tie
    keys = draw(st.lists(st.integers(0, 3), min_size=1, max_size=4,
                         unique=True))
    def side(tag):
        rows = []
        for k in keys:
            tss = draw(st.lists(st.integers(0, 50), min_size=0, max_size=6,
                                unique=True))
            rows += [(k, t, f"{tag}{k}_{t}") for t in tss]
        return rows
    return side("l"), side("r"), draw(st.sampled_from(
        ["backward", "forward"])), draw(st.one_of(
            st.none(), st.integers(1, 20)))


@st.composite
def _range_case(draw):
    pts = draw(st.lists(st.tuples(st.integers(0, 30),
                                  st.floats(-5, 40, allow_nan=False)),
                        min_size=0, max_size=12))
    ivs = draw(st.lists(st.tuples(st.integers(100, 130),
                                  st.floats(-5, 35, allow_nan=False),
                                  st.floats(0, 10, allow_nan=False)),
                        min_size=1, max_size=6, unique_by=lambda t: t[0]))
    return pts, ivs, draw(st.sampled_from([1.0, 3.0, 7.5]))


@settings(max_examples=15, deadline=None)
@given(_range_case())
def test_range_join_matches_brute_force(spark, case):
    """Property: bucketized range_join == the naive O(L·R) containment
    check, for arbitrary float points/intervals and bucket widths
    (including overlapping and empty intervals)."""
    pts, ivs, bw = case
    if not pts:
        return
    left = spark.createDataFrame(pts, "pid int, v double")
    right = spark.createDataFrame(
        [(i, lo, lo + width) for i, lo, width in ivs],
        "iid int, lo double, hi double")
    got = {(r.pid, r.iid) for r in
           range_join(left, right, "v", "lo", "hi", bucket_width=bw)
           .collect()}
    want = {(pid, iid) for pid, v in pts for iid, lo, width in ivs
            if lo <= v < lo + width}
    assert got == want


@settings(max_examples=15, deadline=None)
@given(_asof_case())
def test_asof_join_matches_pandas_merge_asof(spark, case):
    """Property: asof_join == pandas.merge_asof on randomized inputs
    (both directions, with and without tolerance) — an oracle fully
    independent of the DuckDB gate check."""
    lrows, rrows, direction, tol = case
    if not lrows:
        return
    left = spark.createDataFrame(lrows, "k int, ts int, lpay string")
    right = spark.createDataFrame(rrows or [(99, 0, "sentinel")],
                                  "k int, ts int, rpay string")
    got = (asof_join(left, right, by=["k"], direction=direction,
                     tolerance_seconds=tol)
           .toPandas().sort_values(["k", "ts"]).reset_index(drop=True))

    lp = pd.DataFrame(lrows, columns=["k", "ts", "lpay"]).sort_values("ts")
    rp = pd.DataFrame(rrows or [(99, 0, "sentinel")],
                      columns=["k", "ts", "rpay"]).sort_values("ts")
    want = pd.merge_asof(
        lp, rp, on="ts", by="k", direction=direction,
        suffixes=("", "_right"),
        tolerance=None if tol is None else tol,
        allow_exact_matches=True).sort_values(["k", "ts"]) \
        .reset_index(drop=True)
    assert len(got) == len(want)
    assert got["rpay"].fillna("-").tolist() == \
        want["rpay"].fillna("-").tolist()

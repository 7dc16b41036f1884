"""Operator tests: join variants (SURVEY §2.3)."""

import datetime as dt
import functools
import operator

from hypothesis import Phase, given, settings, strategies as st
from pyspark.sql import DataFrame, functions as F

from clickhouse_core_spark.operators import (
    asof_join, asof_join_same_source, any_join, array_join, paste_join)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), "a"),
         (1, _ts("2024-01-01 12:00:00"), "b"),
         (2, _ts("2024-01-01 10:00:00"), "c")],
        "k int, ts timestamp, lv string")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 09:00:00"), 100),
         (1, _ts("2024-01-01 11:00:00"), 200),
         (2, _ts("2024-01-01 11:00:00"), 300)],
        "k int, rts timestamp, rv int")
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                    inequality=">=", how="inner")
    got = {(r.lv, r.rv) for r in out.collect()}
    assert got == {("a", 100), ("b", 200)}  # c has no right row <= 10:00


def test_asof_backward_equal_ts_inclusive_vs_strict(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01 10:00:00"), "x")],
                                 "k int, ts timestamp, lv string")
    right = spark.createDataFrame([(1, _ts("2024-01-01 10:00:00"), 7)],
                                  "k int, rts timestamp, rv int")
    inclusive = asof_join(left, right, ["k"], "ts", "rts", ">=").collect()
    strict = asof_join(left, right, ["k"], "ts", "rts", ">").collect()
    assert len(inclusive) == 1 and inclusive[0].rv == 7
    assert len(strict) == 0


def test_asof_forward(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01 10:00:00"), "x")],
                                 "k int, ts timestamp, lv string")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 09:00:00"), 1),
         (1, _ts("2024-01-01 11:00:00"), 2),
         (1, _ts("2024-01-01 12:00:00"), 3)],
        "k int, rts timestamp, rv int")
    out = asof_join(left, right, ["k"], "ts", "rts", "<=").collect()
    assert len(out) == 1 and out[0].rv == 2  # nearest at-or-after


def test_asof_left_keeps_unmatched(spark):
    left = spark.createDataFrame([(9, _ts("2024-01-01 10:00:00"), "x")],
                                 "k int, ts timestamp, lv string")
    right = spark.createDataFrame([(1, _ts("2024-01-01 09:00:00"), 1)],
                                  "k int, rts timestamp, rv int")
    out = asof_join(left, right, ["k"], "ts", "rts", ">=", how="left").collect()
    assert len(out) == 1 and out[0].rv is None


# -- ASOF NULL / tie / overlap edges: the reference lookup
# (RowRefs.h:172) returns one whole right row per left row, and SQL
# equality never holds for a NULL key or timestamp.

def _asof_both_forms(spark, rows, left_kind, right_kind, how="left",
                     inequality=">="):
    """Run one events-like table through both ASOF forms; return each
    form's rows as sorted (lid, rid, v, w) tuples."""
    df = spark.createDataFrame(
        rows, "k int, t long, kind string, id int, v int, w string")
    lf, rf = df.kind.isin(*left_kind), df.kind.isin(*right_kind)
    union = asof_join(df.filter(lf).select("k", "t", F.col("id").alias("lid")),
                      df.filter(rf).select("k", F.col("t").alias("rt"),
                                           F.col("id").alias("rid"), "v", "w"),
                      on=["k"], left_ts="t", right_ts="rt",
                      inequality=inequality, how=how)
    same = asof_join_same_source(
        df, on=["k"], left_filter=lf, right_filter=rf, ts_col="t",
        left_values={"lid": "id"},
        right_values={"rid": "id", "v": "v", "w": "w"},
        inequality=inequality, how=how)
    return [sorted((r.lid, r.rid, r.v, r.w) for r in out.collect())
            for out in (union, same)]


def test_asof_values_come_from_one_right_row(spark):
    rows = [(1, 1, "R", 1, 100, "a"), (1, 5, "R", 2, None, "b"),
            (1, 10, "L", 3, None, None)]
    for got in _asof_both_forms(spark, rows, ["L"], ["R"]):
        assert got == [(3, 2, None, "b")]  # not v=100 from the older row


def test_asof_inner_keeps_match_with_null_right_values(spark):
    # the right row's values are all NULL, id included
    rows = [(1, 1, "R", None, None, None), (1, 10, "L", 2, None, None)]
    for got in _asof_both_forms(spark, rows, ["L"], ["R"], how="inner"):
        assert got == [(2, None, None, None)]


def test_asof_same_source_overlapping_filters(spark):
    # every row is both a left and a right row: each left row matches
    # itself at equal ts, as asof_join over two filtered copies does
    rows = [(1, 1, "B", 1, 10, "x"), (1, 2, "B", 2, 20, "y")]
    union, same = _asof_both_forms(spark, rows, ["B"], ["B"], how="inner")
    assert union == same == [(1, 1, 10, "x"), (2, 2, 20, "y")]


def test_asof_null_keys_never_match(spark):
    rows = [(None, 1, "R", 1, 1, "nullkey"), (None, 10, "L", 2, None, None)]
    for got in _asof_both_forms(spark, rows, ["L"], ["R"]):
        assert got == [(2, None, None, None)]


def test_asof_null_right_ts_never_matches(spark):
    rows = [(1, None, "R", 1, 1, "nullts"), (1, 10, "L", 2, None, None)]
    for inequality in (">=", "<"):
        for got in _asof_both_forms(spark, rows, ["L"], ["R"],
                                    inequality=inequality):
            assert got == [(2, None, None, None)]


# One generated case: (k, t, kind, v) rows of an events-like table.
# kind 'B' rows are both left and right rows (overlapping filters),
# NULL kind rows neither; small domains force duplicate keys and ts ties.
_ASOF_ROWS = st.lists(
    st.tuples(st.sampled_from([None, 0, 1]),
              st.sampled_from([None, 0, 1, 2, 3, 4]),
              st.sampled_from([None, "L", "R", "B"]),
              st.sampled_from([None, 0, 1, 2])),
    max_size=8)
_ASOF_OPS = {">=": operator.ge, ">": operator.gt,
             "<=": operator.le, "<": operator.lt}


def _asof_brute_force(rows, inequality, how):
    """lid -> the set of acceptable (rid, rt, rv) answers; any right row
    tied at the nearest ts is acceptable."""
    op = _ASOF_OPS[inequality]
    nearest = max if inequality in (">=", ">") else min
    rights = [r for r in rows if r[4] in ("R", "B")
              and r[2] is not None and r[3] is not None]
    expect = {}
    for c, lid, k, t, kind, _v in rows:
        if kind not in ("L", "B"):
            continue
        cands = [r for r in rights if t is not None
                 and r[0] == c and r[2] == k and op(t, r[3])]
        if cands:
            best = nearest(r[3] for r in cands)
            expect[lid] = {(r[1], r[3], r[5]) for r in cands if r[3] == best}
        elif how == "left":
            expect[lid] = {(None, None, None)}
    return expect


# no shrink phase: each shrink step is a Spark job, and a failure is
# reported with the generated example as it is
@settings(derandomize=True, deadline=None, max_examples=6,
          phases=[Phase.generate])
@given(cases=st.lists(_ASOF_ROWS, min_size=2, max_size=10))
def test_asof_property_both_forms_match_brute_force(spark, cases):
    """Many cases share one DataFrame (the case number is an equi-key);
    both ASOF forms x four inequalities x both ``how`` run as one
    union and one collect."""
    flat = [(c, *row) for c, case in enumerate(cases) for row in case]
    rows = [(c, i, k, t, kind, v) for i, (c, k, t, kind, v) in enumerate(flat)]
    # localCheckpoint: the 24 scans below read JVM blocks instead of
    # re-running a Python worker over the driver-side list each time
    df = spark.createDataFrame(
        rows, "c int, id int, k int, t long, kind string, v int"
    ).localCheckpoint()
    lf, rf = df.kind.isin("L", "B"), df.kind.isin("R", "B")
    arms = []
    for inequality in _ASOF_OPS:
        for how in ("inner", "left"):
            union = asof_join(
                df.filter(lf).select("c", "k", "t", F.col("id").alias("lid")),
                df.filter(rf).select("c", "k", F.col("t").alias("rt"),
                                     F.col("id").alias("rid"),
                                     F.col("v").alias("rv")),
                on=["c", "k"], left_ts="t", right_ts="rt",
                inequality=inequality, right_values=["rid", "rt", "rv"],
                how=how)
            same = asof_join_same_source(
                df, on=["c", "k"], left_filter=lf, right_filter=rf,
                ts_col="t", left_values={"lid": "id"},
                right_values={"rid": "id", "rt": "t", "rv": "v"},
                inequality=inequality, how=how)
            for form, out in (("union", union), ("same", same)):
                arms.append(out.select(
                    F.lit(form).alias("form"), F.lit(inequality).alias("op"),
                    F.lit(how).alias("how"), "lid", "rid", "rt", "rv"))
    got = {}
    for r in functools.reduce(DataFrame.unionByName, arms).collect():
        got.setdefault((r.form, r.op, r.how), []).append(
            (r.lid, (r.rid, r.rt, r.rv)))
    for inequality in _ASOF_OPS:
        for how in ("inner", "left"):
            expect = _asof_brute_force(rows, inequality, how)
            for form in ("union", "same"):
                pairs = got.get((form, inequality, how), [])
                lids = [lid for lid, _ in pairs]
                assert sorted(lids) == sorted(expect), (form, inequality, how)
                for lid, right in pairs:
                    assert right in expect[lid], (form, inequality, how, lid)


def test_any_join_dedupes_right(spark):
    left = spark.createDataFrame([(1, "l")], "k int, lv string")
    right = spark.createDataFrame([(1, 30), (1, 10), (1, 20)], "k int, rv int")
    out = any_join(left, right, on=["k"], tie_break=[F.col("rv")]).collect()
    assert len(out) == 1 and out[0].rv == 10


def test_any_join_min_by_path_matches_row_number_path(spark):
    # duplicate join keys; the tie-break columns hold NULLs and ties in
    # t1 that t2 breaks.  Ascending, NULLs first, on both paths.
    right = spark.createDataFrame(
        [(1, None, 5, "a"), (1, None, 3, "b"), (1, 2, None, "c"),
         (2, 7, 1, "d"), (2, 7, None, "e"), (2, 8, 0, "f"),
         (3, None, None, "g"), (None, 0, 0, "h")],
        "k int, t1 int, t2 int, rv string")
    left = spark.createDataFrame([(1,), (2,), (3,), (4,), (None,)], "k int")
    by_name = any_join(left, right, on=["k"], tie_break=["t1", "t2"])  # min_by
    by_col = any_join(left, right, on=["k"],
                      tie_break=[F.col("t1"), F.col("t2")])  # row_number
    got = [{r.k: tuple(r) for r in out.select("k", "t1", "t2", "rv").collect()}
           for out in (by_name, by_col)]
    assert got[0] == got[1]
    assert {k: r[3] for k, r in got[0].items()} == {
        1: "b", 2: "e", 3: "g", 4: None, None: None}


def test_array_join_inner_and_left(spark):
    df = spark.createDataFrame([(1, [10, 20]), (2, [])], "id int, xs array<int>")
    inner = array_join(df, ["xs"]).collect()
    assert {(r.id, r.xs) for r in inner} == {(1, 10), (1, 20)}
    left = array_join(df, ["xs"], left=True).collect()
    assert {(r.id, r.xs) for r in left} == {(1, 10), (1, 20), (2, None)}


def test_array_join_parallel_arrays(spark):
    df = spark.createDataFrame([(1, [1, 2], ["a", "b"])],
                               "id int, xs array<int>, ys array<string>")
    out = array_join(df, ["xs", "ys"], with_position=True).collect()
    assert {(r.pos, r.xs, r.ys) for r in out} == {(0, 1, "a"), (1, 2, "b")}


def test_paste_join(spark):
    l = spark.createDataFrame([("a",), ("b",)], "x string")
    r = spark.createDataFrame([(2,), (1,)], "y int")
    out = paste_join(l, r, left_order=["x"], right_order=["y"]).collect()
    assert {(row.x, row.y) for row in out} == {("a", 1), ("b", 2)}

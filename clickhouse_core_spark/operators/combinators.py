"""Aggregate-function combinators.

Reference: src/AggregateFunctions/Combinators/ — any aggregate composes
with -If, -Array, -Map, -ForEach, -Distinct, -OrNull, -OrDefault,
-Resample modifiers. On Spark these are expression rewrites around the
base aggregate Column, so they compose the same way:

    agg_if(F.sum, F.col("x"), F.col("t") == 'a')     # sumIf(x, t='a')
    agg_array(F.avg, df, "arr_col")                  # avgArray(arr)
    agg_resample(F.sum, ...)                         # sumResample(...)

Everything stays a single groupBy aggregation (one shuffle, map-side
partial agg); -Array forms pre-explode, which is the same data motion
the reference performs internally.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

AggFn = Callable[..., Column]


def agg_if(agg: AggFn, value: Column | str, cond: Column) -> Column:
    """-If combinator: aggregate only rows where ``cond`` holds
    (AggregateFunctionIf.h).  NULLs are ignored by Spark aggregates, so
    a conditional projection is exactly the reference semantics."""
    v = F.col(value) if isinstance(value, str) else value
    return agg(F.when(cond, v))


def count_if(cond: Column) -> Column:
    return F.count_if(cond)


def agg_or_default(agg: AggFn, value: Column | str, default) -> Column:
    """-OrDefault: empty aggregation yields ``default`` instead of NULL
    (AggregateFunctionOrFill.h)."""
    v = F.col(value) if isinstance(value, str) else value
    return F.coalesce(agg(v), F.lit(default))


def count_or_null(value: Column | str) -> Column:
    """countOrNull: NULL instead of 0 on empty input."""
    return F.nullif(F.count(value), F.lit(0))


def agg_distinct(agg: AggFn, value: Column | str) -> Column:
    """-Distinct: aggregate over the distinct value set
    (AggregateFunctionDistinct.h).  Expression form: aggregate the
    collected distinct set; for sum/avg/min/max/count this matches the
    reference."""
    v = F.col(value) if isinstance(value, str) else value
    name = getattr(agg, "__name__", "")
    if name == "count":
        return F.countDistinct(v)
    if name == "sum":
        return F.expr(f"aggregate(collect_set({_sql(v)}), CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
    if name == "avg":
        s = F.expr(f"aggregate(collect_set({_sql(v)}), CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
        return s / F.size(F.collect_set(v))
    # min/max unaffected by distinctness
    return agg(v)


def _sql(c: Column) -> str:
    # Column -> SQL text for expr() composition (internal use only)
    return c._jc.toString()


def agg_array(agg_name: str, array_col: Column | str) -> Column:
    """-Array combinator: apply the aggregate across all elements of the
    group's arrays (AggregateFunctionArray.h).  Expression form keeps it
    one aggregation: flatten the collected arrays, then reduce.

    Supported: 'sum', 'avg', 'min', 'max', 'count', 'uniq'.
    """
    c = F.col(array_col) if isinstance(array_col, str) else array_col
    flat = F.flatten(F.collect_list(c))
    if agg_name == "sum":
        return F.aggregate(flat, F.lit(0.0), lambda a, x: a + x.cast("double"))
    if agg_name == "avg":
        return (F.aggregate(flat, F.lit(0.0), lambda a, x: a + x.cast("double"))
                / F.size(flat))
    if agg_name == "min":
        return F.array_min(flat)
    if agg_name == "max":
        return F.array_max(flat)
    if agg_name == "count":
        return F.size(flat).cast("long")
    if agg_name == "uniq":
        return F.size(F.array_distinct(flat)).cast("long")
    raise ValueError(f"unsupported -Array base {agg_name}")


def agg_for_each(agg_name: str, array_col: Column | str) -> Column:
    """-ForEach combinator: element-wise aggregation across arrays —
    result[i] = agg of arr[i] over the group (AggregateFunctionForEach.h).

    Expression form: collect the group's arrays, then per position i
    reduce across rows.  Positions = longest array (reference pads with
    default values; we use NULL-skipping semantics).
    Supported: 'sum', 'max', 'min', 'avg'.
    """
    c = F.col(array_col) if isinstance(array_col, str) else array_col
    rows = F.collect_list(c)  # array<array<T>>
    max_len = F.array_max(F.transform(rows, F.size))
    idxs = F.sequence(F.lit(1), max_len)

    def col_at(i):
        # try_element_at: rows shorter than max_len must yield NULL (then
        # filtered) in every session mode — plain element_at throws under
        # ANSI when i exceeds the row's length
        vals = F.filter(F.transform(rows, lambda r: F.try_element_at(r, i)),
                        lambda v: v.isNotNull())
        if agg_name == "sum":
            return F.aggregate(vals, F.lit(0.0), lambda a, x: a + x.cast("double"))
        if agg_name == "avg":
            return (F.aggregate(vals, F.lit(0.0), lambda a, x: a + x.cast("double"))
                    / F.size(vals))
        if agg_name == "max":
            return F.array_max(vals)
        if agg_name == "min":
            return F.array_min(vals)
        raise ValueError(f"unsupported -ForEach base {agg_name}")

    return F.transform(idxs, col_at)


def _arg_extreme_vals(value: Column | str, key: Column | str,
                      use_min: bool) -> Column:
    """Array of ``value`` over the rows where ``key`` hits its group
    extreme — the shared core of -ArgMin/-ArgMax.  One collect_list +
    HOF filter: still a single aggregation pass."""
    v = F.col(value) if isinstance(value, str) else value
    k = F.col(key) if isinstance(key, str) else key
    pairs = F.collect_list(F.struct(k.alias("k"), v.alias("v")))
    keys_arr = F.transform(pairs, lambda s: s["k"])
    extreme = F.array_min(keys_arr) if use_min else F.array_max(keys_arr)
    return F.transform(F.filter(pairs, lambda s: s["k"] == extreme),
                       lambda s: s["v"])


def _reduce_vals(vals: Column, agg_name: str) -> Column:
    if agg_name == "sum":
        return F.aggregate(vals, F.lit(0.0),
                           lambda a, x: a + x.cast("double"))
    if agg_name == "avg":
        return (F.aggregate(vals, F.lit(0.0),
                            lambda a, x: a + x.cast("double"))
                / F.size(vals))
    if agg_name == "min":
        return F.array_min(vals)
    if agg_name == "max":
        return F.array_max(vals)
    if agg_name == "count":
        return F.size(vals).cast("long")
    if agg_name == "any":
        return F.element_at(vals, 1)
    raise ValueError(f"unsupported -ArgMin/-ArgMax base {agg_name}")


def agg_arg_min(agg_name: str, value: Column | str,
                key: Column | str) -> Column:
    """-ArgMin combinator: ``fooArgMin(value, key)`` applies foo to the
    value(s) at the group's minimal key
    (AggregateFunctionCombinatorsArgMinArgMax.cpp).  anyArgMin is
    exactly Spark's min_by."""
    if agg_name == "any":
        v = F.col(value) if isinstance(value, str) else value
        k = F.col(key) if isinstance(key, str) else key
        return F.min_by(v, k)
    return _reduce_vals(_arg_extreme_vals(value, key, True), agg_name)


def agg_arg_max(agg_name: str, value: Column | str,
                key: Column | str) -> Column:
    """-ArgMax combinator (see :func:`agg_arg_min`); anyArgMax =
    max_by."""
    if agg_name == "any":
        v = F.col(value) if isinstance(value, str) else value
        k = F.col(key) if isinstance(key, str) else key
        return F.max_by(v, k)
    return _reduce_vals(_arg_extreme_vals(value, key, False), agg_name)


def agg_resample(df: DataFrame, keys: Sequence[str], agg: Column,
                 resample_col: str, start, stop, step) -> DataFrame:
    """-Resample combinator: split the group by value buckets of
    ``resample_col`` and aggregate each bucket separately
    (AggregateFunctionResample.h).  Bucket key + groupBy — stays one
    shuffle; out-of-range rows are dropped like the reference."""
    keys = list(keys)
    bucket = F.floor((F.col(resample_col) - start) / step).cast("long")
    in_range = (F.col(resample_col) >= start) & (F.col(resample_col) < stop)
    return (df.filter(in_range)
            .withColumn("__bucket", bucket)
            .withColumn("__bucket_lo", (F.lit(start) + F.col("__bucket") * step))
            .groupBy(*keys, "__bucket", "__bucket_lo")
            .agg(agg))


def agg_simple_state(agg: AggFn, value: Column | str) -> Column:
    """-SimpleState combinator (reference src/AggregateFunctions/
    Combinators/AggregateFunctionSimpleState.h): the aggregate result
    carried as a SimpleAggregateFunction plain value.  In this engine
    plain values ARE the simple-state carrier (AggregatingMergeTree
    plain columns, Native SimpleAggregateFunction(T) serializing as
    T), so -SimpleState is the aggregate itself — the combinator
    exists for name parity and reads as documentation at call sites."""
    return agg(value if isinstance(value, Column) else F.col(value))

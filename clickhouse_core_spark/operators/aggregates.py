"""Aggregation-adjacent operators missing from Spark's surface.

Reference semantics: LIMIT BY (reference
src/Processors/QueryPlan/LimitByStep.h:8), WITH TOTALS
(src/Processors/Transforms/TotalsHavingTransform.h:22), topK
(src/AggregateFunctions/AggregateFunctionTopK.h), groupArray
(src/AggregateFunctions/AggregateFunctionGroupArray.h), histogram
(src/AggregateFunctions/AggregateFunctionHistogram.h), sumMap
(src/AggregateFunctions/AggregateFunctionSumMap.h).

All are window/groupBy compositions — partial aggregation, spill and
AQE apply as usual; no driver-side loops.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def limit_by(df: DataFrame, keys: Sequence[str], n: int,
             order: Sequence[Column | str], offset: int = 0) -> DataFrame:
    """LIMIT n BY keys — first ``n`` rows per key group (after ``offset``).

    row_number over (keys, order): one shuffle on keys; the sort is
    per-partition so it scales with the number of groups.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    out = (df.withColumn("__rn", F.row_number().over(w))
           .filter((F.col("__rn") > offset) & (F.col("__rn") <= offset + n))
           .drop("__rn"))
    return out


def limit_with_ties(df: DataFrame, n: int, order: Sequence[Column | str]) -> DataFrame:
    """LIMIT n WITH TIES: keep rows ranking <= n including ties
    (reference src/Processors/QueryPlan/LimitStep.h:16 with_ties)."""
    w = Window.orderBy(*order)
    return df.withColumn("__rk", F.rank().over(w)).filter(F.col("__rk") <= n).drop("__rk")


def top_k(df: DataFrame, group: Sequence[str], value_col: str, k: int) -> DataFrame:
    """topK(k)(value) per group: the k most frequent values.

    Two-stage: count per (group, value) — map-side partial agg applies —
    then rank within group.  Returns one row per group with an array
    column ``topk`` ordered by descending frequency (value ascending as
    tie-break, matching a deterministic contract the reference does not
    guarantee).
    """
    group = list(group)
    counted = df.groupBy(*group, value_col).agg(F.count("*").alias("__cnt"))
    w = Window.partitionBy(*group).orderBy(F.col("__cnt").desc(), F.col(value_col))
    return (counted.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .groupBy(*group)
            .agg(F.collect_list(F.struct("__rk", value_col)).alias("__pairs"))
            .withColumn("topk", F.transform(F.array_sort("__pairs"),
                                            lambda s: s[value_col]))
            .drop("__pairs"))


def top_k_weighted(df: DataFrame, group: Sequence[str], value_col: str,
                   weight_col: str, k: int) -> DataFrame:
    """topKWeighted(k)(value, weight) per group: the k values with the
    largest summed weight (reference
    src/AggregateFunctions/AggregateFunctionTopK.cpp, weighted variant).

    Same two-stage shape as top_k with sum(weight) in place of count.
    """
    group = list(group)
    counted = (df.groupBy(*group, value_col)
               .agg(F.sum(weight_col).alias("__w")))
    w = Window.partitionBy(*group).orderBy(F.col("__w").desc(), F.col(value_col))
    return (counted.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .groupBy(*group)
            .agg(F.collect_list(F.struct("__rk", value_col)).alias("__pairs"))
            .withColumn("topk", F.transform(F.array_sort("__pairs"),
                                            lambda s: s[value_col]))
            .drop("__pairs"))


def bitmap_cardinalities(df: DataFrame, group_col: str,
                         value_col: str) -> DataFrame:
    """groupBitmapAnd / groupBitmapOr / groupBitmapXor cardinalities
    across the per-group value bitmaps (reference
    src/AggregateFunctions/AggregateFunctionGroupBitmap.cpp).

    Set-theoretic identities over (value -> #groups containing it):
    AND = values present in every group, OR = values present anywhere,
    XOR = values present in an odd number of groups.  Two groupBys,
    both map-side combinable — never materializes a bitmap.
    """
    n_groups = df.select(group_col).distinct().count()
    per_value = (df.groupBy(value_col)
                 .agg(F.countDistinct(group_col).alias("__g")))
    return per_value.agg(
        F.count(F.when(F.col("__g") == n_groups, 1)).alias("and_card"),
        F.count("*").alias("or_card"),
        F.count(F.when(F.col("__g") % 2 == 1, 1)).alias("xor_card"))


def with_totals(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column],
                totals_marker: str = "__totals",
                having: Column | None = None,
                totals_mode: str = "after_having_exclusive") -> DataFrame:
    """GROUP BY ... WITH TOTALS: regular grouped rows plus one grand-total
    row where every key is NULL and ``totals_marker`` is true.

    ``totals_mode`` mirrors the reference setting (Settings.cpp:873,
    default AFTER_HAVING_EXCLUSIVE; SettingsEnums.h TotalsMode) when a
    ``having`` predicate (over the aggregated columns) is given:

    - ``before_having``: totals over ALL source rows; HAVING filters
      only the grouped rows.
    - ``after_having_exclusive``: totals over rows belonging to groups
      that passed HAVING (semi-join of source rows to passing keys).
    - ``after_having_inclusive``: totals over all rows, like
      before_having, but named per the reference's mode (``auto`` maps
      here too — the row-count threshold heuristic collapses to
      inclusive without a cluster-wide stats exchange).

    Implemented with ``rollup``-style union of a global aggregate —
    Catalyst computes both branches from a shared scan; the global
    aggregate's shuffle is a single-row exchange; the exclusive mode
    adds one broadcast-ready semi join on the (small) passing key set.
    """
    keys = list(keys)
    grouped = df.groupBy(*keys).agg(*aggs).withColumn(totals_marker, F.lit(False))
    if having is not None:
        grouped = grouped.filter(having)
    if having is not None and totals_mode == "after_having_exclusive":
        passing = grouped.select(*keys)
        total_src = df.join(passing, on=keys, how="left_semi")
    else:
        total_src = df
    total = total_src.groupBy().agg(*aggs)
    for k in keys:
        total = total.withColumn(k, F.lit(None).cast(df.schema[k].dataType))
    total = total.select(*grouped.columns[:-1]).withColumn(totals_marker, F.lit(True))
    return grouped.unionByName(total)


def group_array(df: DataFrame, keys: Sequence[str], value_col: str,
                order: Sequence[Column | str] | None = None,
                max_size: int | None = None,
                alias: str = "group_array") -> DataFrame:
    """groupArray / groupArraySorted: collect values per group into an
    array, optionally sorted and truncated.

    collect_list has nondeterministic order in a distributed shuffle, so
    a deterministic contract needs the sort baked in: collect_list over
    an ordered window (rows are fed to the frame in sort order), then
    one row per group — the groupBy reuses the window's hash
    partitioning on ``keys`` so no second shuffle.
    """
    keys = list(keys)
    if order is None:
        collected = df.groupBy(*keys).agg(F.collect_list(value_col).alias(alias))
    else:
        w = (Window.partitionBy(*keys).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        collected = (df.withColumn(alias, F.collect_list(value_col).over(w))
                     .groupBy(*keys).agg(F.first(alias).alias(alias)))
    if max_size is not None:
        collected = collected.withColumn(alias, F.slice(alias, 1, max_size))
    return collected


def histogram(df: DataFrame, value_col: str, bins: int,
              min_val: float | None = None, max_val: float | None = None) -> DataFrame:
    """Fixed-bin histogram of a numeric column.

    The reference's adaptive histogram (AggregateFunctionHistogram.h)
    has merge-dependent bin placement; our contract is deterministic
    equal-width bins via ``width_bucket``.  If bounds are not given they
    are computed in a first pass (cheap single-row aggregate).
    Returns (bucket, lo, hi, cnt).
    """
    if min_val is None or max_val is None:
        row = df.agg(F.min(value_col).alias("mn"), F.max(value_col).alias("mx")).first()
        min_val = float(row["mn"]) if min_val is None else min_val
        max_val = float(row["mx"]) if max_val is None else max_val
    span = (max_val - min_val) or 1.0
    bucket = F.least(F.width_bucket(F.col(value_col), F.lit(min_val), F.lit(max_val),
                                    F.lit(bins)), F.lit(bins))
    width = span / bins
    return (df.withColumn("bucket", bucket)
            .groupBy("bucket").agg(F.count("*").alias("cnt"))
            .withColumn("lo", F.lit(min_val) + (F.col("bucket") - 1) * F.lit(width))
            .withColumn("hi", F.lit(min_val) + F.col("bucket") * F.lit(width))
            .select("bucket", "lo", "hi", "cnt"))


def _agg_map(df: DataFrame, keys: Sequence[str], map_col: str,
             agg_fn, alias: str) -> DataFrame:
    """Shared shape for sumMap/minMap/maxMap: explode → groupBy(key,
    map_key) partial-aggregates map-side, then the maps are reassembled
    with map_from_entries — two shuffles total but each fully parallel;
    no skew beyond the key distribution itself."""
    keys = list(keys)
    exploded = df.select(*keys, F.explode(map_col).alias("__mk", "__mv"))
    agged = exploded.groupBy(*keys, "__mk").agg(agg_fn("__mv").alias("__sv"))
    return (agged.groupBy(*keys)
            .agg(F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("__mk", "__sv")))).alias(alias)))


def sum_map(df: DataFrame, keys: Sequence[str], map_col: str,
            alias: str = "sum_map") -> DataFrame:
    """sumMap: element-wise sum of map values per group
    (reference src/AggregateFunctions/AggregateFunctionSumMap.h)."""
    return _agg_map(df, keys, map_col, F.sum, alias)


def min_map(df: DataFrame, keys: Sequence[str], map_col: str,
            alias: str = "min_map") -> DataFrame:
    """minMap: element-wise min of map values per group (reference
    src/AggregateFunctions/AggregateFunctionSumMap.h, minMap
    registration)."""
    return _agg_map(df, keys, map_col, F.min, alias)


def max_map(df: DataFrame, keys: Sequence[str], map_col: str,
            alias: str = "max_map") -> DataFrame:
    """maxMap: element-wise max of map values per group."""
    return _agg_map(df, keys, map_col, F.max, alias)


def sum_map_filtered(df: DataFrame, keys: Sequence[str], map_col: str,
                     keys_to_keep: Sequence, alias: str = "sum_map") -> DataFrame:
    """sumMapFiltered(keys_to_keep)(map) (reference
    src/AggregateFunctions/AggregateFunctionSumMap.h, Filtered variant):
    sumMap restricted to an allow-list of map keys.  The filter runs
    map-side BEFORE the shuffle, so the exchange carries only wanted
    keys.  sumMapFilteredWithOverflow coincides here: Spark long/double
    arithmetic is already the reference's WithOverflow behavior for the
    mapped Spark types."""
    allow = F.array(*[F.lit(k) for k in keys_to_keep])
    filtered = df.withColumn(
        map_col, F.map_filter(map_col, lambda k, _: F.array_contains(allow, k)))
    return _agg_map(filtered, keys, map_col, F.sum, alias)


sum_map_filtered_with_overflow = sum_map_filtered


def _agg_mapped_arrays(df: DataFrame, keys: Sequence[str], karr_col: str,
                       varr_col: str, agg_fn, alias: str) -> DataFrame:
    """sum/min/maxMappedArrays((keys_array, values_array)) (reference
    AggregateFunctionSumMap.h, *MappedArrays registrations): the two
    parallel arrays zip to (key, value) pairs, then aggregate per map
    key like sumMap.  Same two-shuffle shape as _agg_map."""
    keys = list(keys)
    pairs = df.select(*keys, F.explode(F.arrays_zip(
        F.col(karr_col).alias("k"), F.col(varr_col).alias("v"))).alias("__p"))
    agged = (pairs.select(*keys, F.col("__p.k").alias("__mk"),
                          F.col("__p.v").alias("__mv"))
             .groupBy(*keys, "__mk").agg(agg_fn("__mv").alias("__sv")))
    return (agged.groupBy(*keys)
            .agg(F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("__mk", "__sv")))).alias(alias)))


def sum_mapped_arrays(df, keys, karr_col, varr_col, alias="sum_map"):
    return _agg_mapped_arrays(df, keys, karr_col, varr_col, F.sum, alias)


def min_mapped_arrays(df, keys, karr_col, varr_col, alias="min_map"):
    return _agg_mapped_arrays(df, keys, karr_col, varr_col, F.min, alias)


def max_mapped_arrays(df, keys, karr_col, varr_col, alias="max_map"):
    return _agg_mapped_arrays(df, keys, karr_col, varr_col, F.max, alias)


def flame_graph(df: DataFrame, trace_col: str,
                weight_col: str | None = None,
                sep: str = ";", alias: str = "line") -> DataFrame:
    """flameGraph(trace[, size]) (reference
    src/AggregateFunctions/AggregateFunctionFlameGraph.cpp): aggregate
    stack traces into the collapsed-stacks text lines flamegraph
    tooling consumes — one line per distinct full trace,
    'frame1;frame2;... weight'.  Distributed shape: one groupBy on the
    joined trace string (map-side partial sums), no driver-side tree —
    prefix totals are the renderer's job, as with perf's collapsed
    output."""
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    return (df.select(F.array_join(F.col(trace_col), sep).alias("__stack"),
                      w.alias("__w"))
            .groupBy("__stack").agg(F.sum("__w").alias("__total"))
            .select(F.concat_ws(" ", F.col("__stack"),
                                F.col("__total")).alias(alias)))


def agg_throw(throw_probability: float = 1.0):
    """aggThrow(p) (reference
    src/AggregateFunctions/AggregateFunctionAggThrow.cpp): a
    test-only aggregate that throws during creation with probability p
    — used by the reference's exception-safety tests.  Deterministic
    here: always raises when p >= 1, never when p <= 0 (a fractional p
    needs a random source, which this engine's deterministic test
    contract forbids — callers pick the branch they want to test)."""
    if throw_probability >= 1.0:
        raise ValueError("Aggregate function aggThrow has thrown exception "
                         "successfully")
    if throw_probability <= 0.0:
        return None
    raise NotImplementedError(
        "aggThrow: fractional throw probability needs a random source; "
        "use 0 or 1 in deterministic tests")


def group_concat(df: DataFrame, keys: Sequence[str], value_col: str,
                 order: Sequence[str], sep: str = "",
                 limit: int | None = None,
                 alias: str = "gconcat") -> DataFrame:
    """groupConcat[(sep[, limit])](x) (reference
    src/AggregateFunctions/AggregateFunctionGroupConcat.cpp): values
    joined with ``sep``; at most ``limit`` values when given.  The
    reference concatenates in insertion order — made deterministic here
    with an explicit ``order`` column list (same refinement as
    groupArray*)."""
    keys = list(keys)
    order = list(order)
    collected = (df.groupBy(*keys)
                 .agg(F.array_sort(F.collect_list(F.struct(
                     *[F.col(o).alias(f"__o{i}") for i, o in enumerate(order)],
                     F.col(value_col).cast("string").alias("__v"))))
                     .alias("__arr")))
    arr = F.col("__arr")
    if limit is not None:
        arr = F.slice(arr, 1, int(limit))
    joined = F.array_join(F.transform(arr, lambda s: s["__v"]), sep)
    return collected.select(*keys, joined.alias(alias))


_SPARKBAR_LEVELS = ["▁", "▂", "▃", "▄", "▅", "▆", "▇", "█"]


def sparkbar(df: DataFrame, keys: Sequence[str], x_col: str, y_col: str,
             width: int, x_min: float, x_max: float,
             alias: str = "bar") -> DataFrame:
    """sparkbar(width, x_min, x_max)(x, y): unicode bar chart of
    sum(y) bucketed by x (reference
    src/AggregateFunctions/AggregateFunctionSparkbar.cpp).

    Contract: ``width`` equal buckets over [x_min, x_max); level of a
    non-empty bucket is ceil(8 * v / vmax) clamped to [1, 8]; empty or
    non-positive buckets render as a space.  Two groupBy shuffles over
    an already-small (groups × width) cell table; the render is a
    transform over a literal sequence — fully JVM-side.
    """
    keys = list(keys)
    span = (x_max - x_min) or 1.0
    bucket = F.least(F.lit(width - 1), F.greatest(F.lit(0), F.floor(
        (F.col(x_col) - F.lit(x_min)) / F.lit(span) * width).cast("int")))
    sums = (df.withColumn("__b", bucket)
            .groupBy(*keys, "__b").agg(F.sum(y_col).alias("__v")))
    g = (sums.groupBy(*keys)
         .agg(F.map_from_entries(F.collect_list(F.struct("__b", "__v"))).alias("__m"),
              F.max("__v").alias("__vmax")))
    levels = F.array(*[F.lit(c) for c in _SPARKBAR_LEVELS])
    def _char(i):
        v = F.element_at(F.col("__m"), i)
        lvl = F.least(F.lit(8), F.greatest(F.lit(1), F.ceil(
            F.lit(8.0) * v / F.col("__vmax")).cast("int")))
        return F.when(v.isNull() | (v <= 0), F.lit(" ")).otherwise(
            F.element_at(levels, lvl))
    bar = F.concat_ws("", F.transform(
        F.sequence(F.lit(0), F.lit(width - 1)), _char))
    return g.select(*keys, bar.alias(alias))


def group_array_insert_at(df: DataFrame, keys: Sequence[str],
                          value_col: str, pos_col: str, size: int,
                          default=None, alias: str = "arr") -> DataFrame:
    """groupArrayInsertAt(default, size)(value, pos): array with
    ``value`` placed at index ``pos`` (0-based), ``default`` elsewhere
    (reference src/AggregateFunctions/AggregateFunctionGroupArrayInsertAt.h).
    Duplicate positions resolve to the minimum value (the reference
    keeps an arbitrary one; min is the deterministic refinement).
    """
    keys = list(keys)
    slots = (df.filter((F.col(pos_col) >= 0) & (F.col(pos_col) < size))
             .groupBy(*keys, pos_col).agg(F.min(value_col).alias("__v")))
    g = (slots.groupBy(*keys)
         .agg(F.map_from_entries(
             F.collect_list(F.struct(F.col(pos_col).cast("int").alias("k"),
                                     F.col("__v").alias("v")))).alias("__m")))
    fill = F.lit(default)
    arr = F.transform(F.sequence(F.lit(0), F.lit(size - 1)),
                      lambda i: F.coalesce(F.element_at(F.col("__m"), i), fill))
    return g.select(*keys, arr.alias(alias))


def group_array_sorted(df: DataFrame, keys: Sequence[str], value_col: str,
                       n: int, alias: str = "arr") -> DataFrame:
    """groupArraySorted(n)(value): the n smallest values, ascending
    (reference src/AggregateFunctions/AggregateFunctionGroupArraySorted.cpp).
    collect_list + array_sort + slice — partial aggregation applies to
    the collect; the sort runs on an already-grouped array."""
    return (df.groupBy(*keys)
            .agg(F.slice(F.array_sort(F.collect_list(value_col)), 1, n)
                 .alias(alias)))


def group_array_last(df: DataFrame, keys: Sequence[str], value_col: str,
                     order_col: str, n: int, alias: str = "arr") -> DataFrame:
    """groupArrayLast(n)(value): the last n values in ``order_col``
    order, oldest-first (reference
    src/AggregateFunctions/AggregateFunctionGroupArray.h, Last variant —
    its "last inserted" becomes an explicit deterministic order here).
    """
    pairs = F.array_sort(F.collect_list(F.struct(order_col, value_col)))
    last_n = F.reverse(F.slice(F.reverse(pairs), 1, n))
    return (df.groupBy(*keys)
            .agg(F.transform(last_n, lambda s: s[value_col]).alias(alias)))


def group_array_intersect(df: DataFrame, keys: Sequence[str], arr_col: str,
                          alias: str = "arr") -> DataFrame:
    """groupArrayIntersect(arr): elements present in EVERY row's array
    within the group, sorted (reference
    src/AggregateFunctions/AggregateFunctionGroupArrayIntersect.cpp).

    explode-distinct → count rows containing each element → keep
    elements whose containment count equals the group's row count.
    Linear shuffles; no per-group quadratic work.
    """
    keys = list(keys)
    rows = df.groupBy(*keys).agg(F.count("*").alias("__nrows"))
    elems = (df.select(*keys, F.explode(F.array_distinct(arr_col)).alias("__e"))
             .groupBy(*keys, "__e").agg(F.count("*").alias("__c")))
    return (elems.join(rows, keys)
            .filter(F.col("__c") == F.col("__nrows"))
            .groupBy(*keys)
            .agg(F.array_sort(F.collect_list("__e")).alias(alias)))


def single_value_or_null(col: Column | str) -> Column:
    """singleValueOrNull(x): the value if the group holds exactly one
    distinct non-null value, else NULL (reference
    src/AggregateFunctions/AggregateFunctionSingleValueOrNull.cpp)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.countDistinct(c) == 1, F.min(c)).otherwise(F.lit(None))


def sum_count(col: Column | str) -> Column:
    """sumCount(x) → struct(sum, count) (reference
    src/AggregateFunctions/AggregateFunctionSumCount.cpp)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(F.sum(c).alias("sum"), F.count(c).alias("count"))


def any_heavy(df: DataFrame, keys: Sequence[str], value_col: str,
              alias: str = "heavy") -> DataFrame:
    """anyHeavy(x): a heavily-repeated value per group (reference
    src/AggregateFunctions/AggregateFunctionAnyHeavy.cpp, heavy-hitter
    sketch).  Deterministic exact refinement: the modal value, ties
    broken toward the smallest — two groupBy shuffles, both with
    map-side partial aggregation."""
    keys = list(keys)
    counts = df.groupBy(*keys, value_col).agg(F.count("*").alias("__c"))
    w = Window.partitionBy(*keys).orderBy(F.col("__c").desc(),
                                          F.col(value_col).asc())
    return (counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*keys, F.col(value_col).alias(alias)))


def quantile_exact(df: DataFrame, keys: Sequence[str], value_col: str,
                   level: float, variant: str = "exact",
                   alias: str = "q") -> DataFrame:
    """quantileExact / ExactLow / ExactHigh / ExactExclusive /
    ExactInclusive (reference src/AggregateFunctions/QuantileExact.h:96,
    263, 345, 144, 209) as distributed rank selection: one window pass
    assigns per-group ranks, then a conditional aggregate picks (or
    interpolates between) the target rank(s).  No per-group array
    materialization — the sort is the window's, spillable and parallel.

    Rank formulas (1-based rank over the ascending non-null sort):
      exact:     floor(level*n)+1           (n-1 -> last when level=1)
      low@0.5:   floor(n/2)+1 if n odd else n/2   (python median_low)
      high@0.5:  floor(n/2)+1                      (python median_high)
      exclusive: h = level*(n+1)   -> interpolate arr[k], arr[k+1]
      inclusive: h = level*(n-1)+1 -> same, PERCENTILE.INC
    """
    keys = list(keys)
    lvl = float(level)
    wo = Window.partitionBy(*keys).orderBy(value_col)
    wa = Window.partitionBy(*keys)
    d = (df.filter(F.col(value_col).isNotNull())
         .withColumn("__rn", F.row_number().over(wo))
         .withColumn("__n", F.count("*").over(wa)))
    n, rn = F.col("__n"), F.col("__rn")
    v = F.col(value_col).cast("double")
    if variant in ("exact", "low", "high"):
        rank = F.when(F.lit(lvl) < 1.0,
                      F.floor(F.lit(lvl) * n)).otherwise(n - 1) + 1
        if variant == "low" and lvl == 0.5:
            rank = F.when(n % 2 == 1, F.floor(n / 2) + 1).otherwise(n / 2)
        elif variant == "high" and lvl == 0.5:
            rank = F.floor(n / 2) + 1
        return d.groupBy(*keys).agg(
            F.min(F.when(rn == rank, v)).alias(alias))
    if variant not in ("exclusive", "inclusive"):
        raise ValueError(f"unknown quantile variant: {variant}")
    if variant == "exclusive":
        h = F.lit(lvl) * (n + 1)
    else:
        h = F.lit(lvl) * (n - 1) + 1
    k = F.greatest(F.lit(1).cast("long"),
                   F.least(F.floor(h).cast("long"), (n - 1).cast("long")))
    vlo = F.min(F.when(rn == k, v))
    vhi = F.min(F.when(rn == k + 1, v))
    frac = F.min(h - k)
    return d.groupBy(*keys).agg((vlo + frac * (vhi - vlo)).alias(alias))


def group_uniq_array(col: Column | str, max_size: int | None = None) -> Column:
    """groupUniqArray([max_size])(value) (reference
    src/AggregateFunctions/AggregateFunctionGroupUniqArray.cpp): distinct
    values as an array.  The reference's order is hash-table iteration
    order; we sort ascending — the deterministic refinement every other
    array op here uses.  With ``max_size`` the smallest values win
    (defined, unlike the reference's arbitrary insertion cutoff)."""
    out = F.array_sort(F.collect_set(col))
    return F.slice(out, 1, max_size) if max_size is not None else out


def sum_kahan(col: Column | str) -> Column:
    """sumKahan(value) (reference
    src/AggregateFunctions/AggregateFunctionSumKahan.cpp ->
    registerAggregateFunctionSum): compensated summation.  Spark's sum
    already accumulates doubles with partial aggregation; Kahan's
    correction term is an accuracy detail below the contract's 1e-6
    comparison tolerance, so this is sum by another name."""
    return F.sum(col)


def any_respect_nulls(value_col: str, *order: Column | str) -> Column:
    """any(value) RESPECT NULLS (reference
    src/AggregateFunctions/AggregateFunctionAnyRespectNulls.cpp): the
    first value in ``order``, NULL included — the struct wrap keeps
    min_by from discarding NULL payloads.  The reference's "first seen"
    is arrival order; an explicit order is the deterministic refinement.
    """
    return F.min_by(F.struct(F.col(value_col)), F.struct(*order))[value_col]


def any_last_respect_nulls(value_col: str, *order: Column | str) -> Column:
    """anyLast(value) RESPECT NULLS — the last value in ``order``,
    NULL included (same contract as any_respect_nulls, reversed)."""
    return F.max_by(F.struct(F.col(value_col)), F.struct(*order))[value_col]


def arg_min(value: Column | str, by: Column | str) -> Column:
    """argMin(value, by) → Spark min_by (same semantics)."""
    return F.min_by(value, by)


def arg_max(value: Column | str, by: Column | str) -> Column:
    """argMax(value, by) → Spark max_by."""
    return F.max_by(value, by)


def group_array_moving_sum(df: DataFrame, keys: Sequence[str],
                           value_col: str, order_col: str,
                           window: int | None = None,
                           tiebreak: Sequence[str] = (),
                           alias: str = "arr",
                           _combine=None) -> DataFrame:
    """groupArrayMovingSum([window])(value): per-group array whose i-th
    element is the sum of the last ``window`` values up to position i in
    ``order_col`` order (reference
    src/AggregateFunctions/AggregateFunctionMovingImpl.h — its
    insertion order becomes an explicit deterministic order here; no
    window = running sum over the whole prefix).

    collect_list is the only shuffle-side aggregate; the moving sums run
    as higher-order expressions on the grouped array (per-group
    quadratic in array length — the same memory class the reference's
    in-memory deque has)."""
    keys = list(keys)
    pairs = F.array_sort(F.collect_list(F.struct(
        F.col(order_col).alias("__o"),
        *[F.col(t).alias(f"__tb{i}") for i, t in enumerate(tiebreak)],
        F.col(value_col).cast("double").alias("__v"))))
    vals = F.transform(pairs, lambda s: s["__v"])
    combine = _combine or (lambda seg, width: F.aggregate(
        seg, F.lit(0.0), lambda acc, x: acc + x))

    def moving(arr):
        def elem(x, i):
            if window is None:
                start, width = F.lit(1), i + 1
            else:
                start = F.greatest(i + 2 - F.lit(int(window)), F.lit(1))
                width = F.least(i + 1, F.lit(int(window)))
            return combine(F.slice(arr, start, width), width)
        return F.transform(arr, elem)

    return (df.groupBy(*keys)
            .agg(moving(vals).alias("__mv"))
            .withColumnRenamed("__mv", alias))


def group_array_moving_avg(df: DataFrame, keys: Sequence[str],
                           value_col: str, order_col: str,
                           window: int | None = None,
                           tiebreak: Sequence[str] = (),
                           alias: str = "arr") -> DataFrame:
    """groupArrayMovingAvg([window])(value): moving mean counterpart of
    :func:`group_array_moving_sum`. The reference divides by the WINDOW
    SIZE even during warm-up (src/AggregateFunctions/
    AggregateFunctionMovingImpl.h: ``sum / window_size``; with no window
    parameter, by the total number of rows), so early elements are
    damped — [1,2,3,4] with window 2 → [0.5, 1.5, 2.5, 3.5]."""
    out = group_array_moving_sum(df, keys, value_col, order_col,
                                 window=window, tiebreak=tiebreak,
                                 alias=alias)
    div = (F.lit(float(window)) if window is not None
           else F.size(F.col(alias)).cast("double"))
    return out.withColumn(alias, F.transform(F.col(alias), lambda x: x / div))


def group_array_sample(df: DataFrame, keys: Sequence[str], value_col: str,
                       max_size: int, seed: int = 123456,
                       alias: str = "arr") -> DataFrame:
    """groupArraySample(max_size[, seed])(value) (reference
    src/AggregateFunctions/AggregateFunctionGroupArray.h, Sample
    variant): up to ``max_size`` values drawn pseudo-randomly per group.

    The reference's reservoir depends on row arrival order; our
    deterministic refinement keeps the ``max_size`` values with the
    smallest md5(seed || value) — a uniform, engine-portable draw (md5
    rather than an engine-private hash so an external system — or the
    DuckDB oracle — reproduces the exact sample)."""
    keyed = F.array_sort(F.collect_list(F.struct(
        F.md5(F.concat_ws("|", F.lit(str(seed)),
                          F.col(value_col).cast("string"))).alias("__h"),
        F.col(value_col).alias("__v"))))
    return (df.groupBy(*keys)
            .agg(F.transform(F.slice(keyed, 1, max_size),
                             lambda s: s["__v"]).alias(alias)))


def extremes(df: DataFrame) -> DataFrame:
    """The ``extremes = 1`` setting's companion block (reference
    src/Processors/Transforms/ExtremesTransform.h): two rows holding
    the per-column minimum and maximum of the RESULT set for numeric/
    date/timestamp columns (other columns are NULL, as the reference
    leaves non-numeric columns defaulted).  One aggregation over the
    result — the same single pass the reference's streaming transform
    makes."""
    numish = ("tinyint", "smallint", "int", "bigint", "float", "double",
              "date", "timestamp", "timestamp_ntz")
    kinds = {c: (t in numish or t.startswith("decimal"))
             for c, t in df.dtypes}
    # r14: ONE aggregation computing both rows' values, exploded into
    # the (min-row, max-row) pair — union(df.agg(mins), df.agg(maxs))
    # executed the result subtree twice (no common-subexpression reuse
    # across union arms).
    mins = [(F.min(c) if kinds[c] else F.lit(None)).alias(f"__mn_{i}")
            for i, c in enumerate(df.columns)]
    maxs = [(F.max(c) if kinds[c] else F.lit(None)).alias(f"__mx_{i}")
            for i, c in enumerate(df.columns)]
    both = df.agg(*mins, *maxs)
    return (both.select(F.explode(F.array(
        F.struct(*[F.col(f"__mn_{i}").alias(c)
                   for i, c in enumerate(df.columns)]),
        F.struct(*[F.col(f"__mx_{i}").alias(c)
                   for i, c in enumerate(df.columns)]),
    )).alias("__x")).select("__x.*"))

"""Join variants beyond Spark's native kinds.

Reference semantics: join kinds/strictness in
reference src/Core/Joins.h:12-56 (Inner/Left/Right/Full/Cross +
All/Any/Asof/Semi/Anti), ASOF sorted-lookup in
reference src/Interpreters/RowRefs.h:172-173, ARRAY JOIN in
reference src/Interpreters/ArrayJoinAction.h, PasteJoin in
reference src/Interpreters/PasteJoin.h:20.

Spark-first implementations:

- ``asof_join`` / ``asof_join_same_source``: one window core — the
  right row packed into a struct, one running ``last`` (ignorenulls)
  per equi-key — over a side-tagged frame that is either a union of two
  selects or one select over one scan.  A single shuffle on the
  equi-keys, scales to arbitrarily large both-sides (no pandas
  ``merge_asof``, no broadcast requirement, no per-group driver loop).
  Handles all four inequalities (>=, >, <=, <); NULL keys and NULL
  timestamps never match.
- ``any_join``: right side deduplicated to one row per key with a
  deterministic tie-break, then a plain equi-join.
- ``array_join``: explode / explode_outer (+ positions) over one or more
  parallel arrays — reference ARRAY JOIN semantics including the LEFT
  variant that keeps empty arrays.
- ``paste_join``: positional join via row_number over an explicit sort.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ASOF_INEQUALITIES = (">=", ">", "<=", "<")
_LEFT_SIDE = 1


def _asof_right_side(inequality: str, how: str) -> int:
    """Validate the ASOF arguments and return the right rows' side tag.
    At equal ts a right row must sort BEFORE the left row (tag 0) for
    the inclusive inequalities, so the running ``last`` sees it, and
    AFTER it (tag 2) for the strict ones, so it does not."""
    if inequality not in _ASOF_INEQUALITIES:
        raise ValueError(f"inequality must be one of {_ASOF_INEQUALITIES}")
    if how not in ("inner", "left"):
        raise ValueError("how must be 'inner' or 'left'")
    return 2 if inequality in (">", "<") else 0


def _asof_can_match(on: Sequence[str], ts: str) -> Column:
    """Right rows that can match at all: SQL equality never holds for a
    NULL equi-key, nor an inequality for a NULL ts."""
    cond = F.col(ts).isNotNull()
    for k in on:
        cond = cond & F.col(k).isNotNull()
    return cond


def _asof_match(tagged: DataFrame, on: Sequence[str],
                left_cols: Sequence[str], inequality: str,
                how: str) -> DataFrame:
    """The one ASOF core, over a side-tagged frame with columns
    ``*on, __asof_ts, __side, *left_cols, __r``.  ``__r`` packs a right
    row's values into one struct (NULL on left rows), so a single
    running ``last`` of ``__r`` (ignorenulls) per equi-key, ordered by
    (ts, side), attaches one whole right row to each left row.  For
    ``<=``/``<`` (nearest *future* right row) the ts order is reversed
    instead of negating timestamps.  NULL ts sorts first either way, so
    a left row with a NULL ts sees no right row."""
    ts = F.col("__asof_ts")
    ts_order = (ts.asc_nulls_first() if inequality in (">=", ">")
                else ts.desc_nulls_first())
    w = (Window.partitionBy(*on).orderBy(ts_order, F.col("__side"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    keep = F.col("__side") == _LEFT_SIDE
    if how == "inner":
        keep = keep & F.col("__r").isNotNull()
    return (tagged.select(*on, *left_cols, "__side",
                          F.last("__r", ignorenulls=True).over(w).alias("__r"))
            .filter(keep)
            .select(*on, *left_cols, "__r.*"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str | None = None,
    inequality: str = ">=",
    right_values: Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """ASOF join: for each left row, the single right row with the same
    equi-keys and the nearest ``right_ts`` satisfying
    ``left_ts <inequality> right_ts``.

    Implementation (scale-first): tag both sides, union, and run the
    shared window core (:func:`_asof_match`).  One shuffle on ``on``;
    no assumption that either side fits in memory.

    ``how``: 'inner' drops left rows with no match, 'left' keeps them
    with nulls (reference ASOF LEFT JOIN).  NULL keys and NULL
    timestamps never match; among right rows tied at the nearest ts,
    which one is kept is unspecified.
    """
    right_side = _asof_right_side(inequality, how)
    right_ts = right_ts or left_ts
    on = list(on)
    if right_values is None:
        right_values = [c for c in right.columns if c not in on and c != right_ts]
    left_cols = [c for c in left.columns if c not in on]
    r_type = T.StructType([right.schema[v] for v in right_values])
    l_tagged = left.select(
        *on, F.col(left_ts).alias("__asof_ts"),
        F.lit(_LEFT_SIDE).alias("__side"), *left_cols,
        F.lit(None).cast(r_type).alias("__r"))
    r_tagged = right.filter(_asof_can_match(on, right_ts)).select(
        *on, F.col(right_ts).alias("__asof_ts"),
        F.lit(right_side).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        F.struct(*right_values).alias("__r"))
    return _asof_match(l_tagged.unionByName(r_tagged), on, left_cols,
                       inequality, how)


def asof_join_same_source(
    df: DataFrame,
    on: Sequence[str],
    left_filter: Column,
    right_filter: Column,
    ts_col: str,
    left_values: dict,
    right_values: dict,
    inequality: str = ">=",
    how: str = "inner",
) -> DataFrame:
    """ASOF join whose two sides are filters of the SAME DataFrame — the
    common event-log case (purchases vs clicks of one events table).
    Same answer as
    ``asof_join(df.filter(left_filter)…, df.filter(right_filter)…)``
    but built from ONE scan: the generic form reads the source twice
    (one FileScan per side) before unioning; here rows are side-tagged
    conditionally, halving scan I/O (guide §8: the optimizer cannot
    prove the two scans are one).  r14 interleaved driver-protocol A/B
    on join_asof_backward: 1.087 s → 0.930 s (median of 7,
    row-identical).

    ``left_values`` / ``right_values`` map output column name → source
    column; left outputs are NULL on right rows, the right outputs are
    packed into the struct the shared window core (:func:`_asof_match`)
    carries.  The filters may overlap: a row matching both is exploded
    into one left row and one right row, as the union form has it.
    """
    right_side = _asof_right_side(inequality, how)
    on = list(on)
    is_right = right_filter & _asof_can_match(on, ts_col)
    sides = F.array(F.when(left_filter, F.lit(_LEFT_SIDE)),
                    F.when(is_right, F.lit(right_side)))
    is_left = F.col("__side") == _LEFT_SIDE
    tagged = (df.filter(left_filter | right_filter)
              .withColumn("__side", F.explode(F.array_compact(sides)))
              .select(*on, F.col(ts_col).alias("__asof_ts"), "__side",
                      *[F.when(is_left, F.col(src)).alias(out)
                        for out, src in left_values.items()],
                      F.when(~is_left, F.struct(
                          *[F.col(src).alias(out)
                            for out, src in right_values.items()]))
                      .alias("__r")))
    return _asof_match(tagged, on, list(left_values), inequality, how)


def any_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "left",
    tie_break: Sequence[Column | str] | None = None,
) -> DataFrame:
    """ANY-strictness join: at most one right row per key
    (reference src/Core/Joins.h:47-48).

    The right side is deduplicated to one row per key before the join,
    which keeps the join itself a plain (broadcast-able) equi-join.
    ``tie_break`` orders candidates; default is the right side's
    natural column order for determinism.

    r14: when every tie_break entry is a plain column name (ascending
    order), dedup is a ``min_by(values, struct(tie_break))`` hash
    aggregate instead of a ``row_number`` window — the aggregate
    partially collapses duplicate keys MAP-SIDE before the one
    exchange and needs no per-partition sort, where the window
    shuffled and sorted every right row.  Struct comparison is
    field-by-field with nulls first, matching the window's ASC NULLS
    FIRST.  Interleaved driver-protocol A/B on join_any_left:
    0.850 s → 0.708 s (median of 7, row-identical).  Column
    expressions (e.g. ``F.col("x").desc()``) keep the window path.
    """
    on = list(on)
    order = list(tie_break) if tie_break else [c for c in right.columns if c not in on]
    value_cols = [c for c in right.columns if c not in on]
    if order and all(isinstance(c, str) for c in order) and value_cols:
        deduped = (right.groupBy(*on)
                   .agg(F.min_by(F.struct(*value_cols),
                                 F.struct(*[F.col(c) for c in order]))
                        .alias("__r"))
                   .select(*on, "__r.*"))
    else:
        w = Window.partitionBy(*on).orderBy(*order)
        deduped = (right.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1).drop("__rn"))
    return left.join(deduped, on=on, how=how)


def array_join(
    df: DataFrame,
    array_cols: Sequence[str],
    left: bool = False,
    with_position: bool = False,
    position_name: str = "pos",
) -> DataFrame:
    """ARRAY JOIN: unnest one or more parallel array columns into rows
    (reference src/Interpreters/ArrayJoinAction.h; LEFT variant keeps
    rows with empty arrays as a single null row).

    Multiple columns are zipped positionally (reference semantics for
    ``ARRAY JOIN a, b``), via ``arrays_zip`` + one explode, so the plan
    stays a single Generate node.
    """
    array_cols = list(array_cols)
    if len(array_cols) == 1:
        zipped = F.col(array_cols[0])
    else:
        zipped = F.arrays_zip(*[F.col(c) for c in array_cols])
    gen = F.posexplode_outer(zipped) if left else F.posexplode(zipped)
    other = [c for c in df.columns if c not in array_cols]
    out = df.select(*other, gen.alias(position_name, "__zipped"))
    if len(array_cols) == 1:
        out = out.withColumnRenamed("__zipped", array_cols[0])
    else:
        for c in array_cols:
            out = out.withColumn(c, F.col(f"__zipped.{c}"))
        out = out.drop("__zipped")
    if not with_position:
        out = out.drop(position_name)
    return out


def paste_join(
    left: DataFrame,
    right: DataFrame,
    left_order: Sequence[Column | str],
    right_order: Sequence[Column | str],
) -> DataFrame:
    """PASTE JOIN: positional (row-number) join with no condition
    (reference src/Interpreters/PasteJoin.h:20).

    Positional semantics require a total order; callers must supply the
    sort for each side (the reference relies on physical block order,
    which has no distributed analog).  Scale-safe global row numbering
    (zipWithIndex shape, no single-partition window): range-partition by
    the order keys, per-partition row_number, then add per-partition
    offsets computed from a prefix sum over the (tiny) partition-count
    table — the data itself never funnels through one task.
    """
    l_num = _global_row_number(left, left_order)
    r_num = _global_row_number(right, right_order)
    dup = [c for c in r_num.columns if c in l_num.columns and c != "__rn"]
    for c in dup:
        r_num = r_num.withColumnRenamed(c, f"{c}_r")
    return l_num.join(r_num, on="__rn", how="inner").drop("__rn")


def _global_row_number(df: DataFrame, order: Sequence[Column | str],
                       out: str = "__rn") -> DataFrame:
    """1-based global row numbers in ``order`` without a global-window
    single-partition sort: repartitionByRange aligns partition ids with
    the global order, row_number runs per partition, and cross-partition
    offsets come from a prefix sum over one row per partition."""
    ranged = (df.repartitionByRange(*order)
              .withColumn("__pid", F.spark_partition_id()))
    w = Window.partitionBy("__pid").orderBy(*order)
    local = ranged.withColumn("__lrn", F.row_number().over(w))
    cnts = local.groupBy("__pid").agg(F.count("*").alias("__c"))
    # one row per partition: the global window here is over ~hundreds of
    # rows of metadata, not the data
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (cnts.withColumn("__off", F.coalesce(F.sum("__c").over(woff),
                                                F.lit(0))).drop("__c"))
    return (local.join(F.broadcast(offs), on="__pid")
            .withColumn(out, (F.col("__lrn") + F.col("__off")).cast("long"))
            .drop("__pid", "__lrn", "__off"))


def flatten_tuple(df, col: str, prefix: str | None = None,
                  drop: bool = True):
    """flattenTuple(t) (reference src/Functions/flattenTuple.cpp):
    expand a struct column into top-level columns named
    ``<prefix><field>`` (prefix defaults to ``<col>.``, matching the
    reference's dotted-subcolumn naming)."""
    from pyspark.sql import functions as F
    pre = f"{col}." if prefix is None else prefix
    fields = df.schema[col].dataType.fieldNames()
    out = df.select("*", *[F.col(col).getField(f).alias(f"{pre}{f}")
                           for f in fields])
    return out.drop(col) if drop else out


def tuple_names(df, col: str) -> list:
    """tupleNames(t) (src/Functions/tupleNames.cpp): the struct's field
    names — schema metadata, so a plan-time list, not a Column."""
    return list(df.schema[col].dataType.fieldNames())


def tuple_to_name_value_pairs(df, col: str):
    """tupleToNameValuePairs(t) (src/Functions/tupleToNameValuePairs.cpp):
    the struct rendered as an array of (name, value) pairs — values
    carried as strings (the reference requires a common element type;
    string is the engine's universal carrier)."""
    from pyspark.sql import functions as F
    fields = df.schema[col].dataType.fieldNames()
    return F.array(*[
        F.struct(F.lit(f).alias("name"),
                 F.col(col).getField(f).cast("string").alias("value"))
        for f in fields])

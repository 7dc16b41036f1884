"""ORDER BY ... WITH FILL (+ INTERPOLATE).

Reference: src/Processors/Transforms/FillingTransform.h:19 (893 LoC of
corner cases — FROM/TO/STEP bounds, multi-column fills, INTERPOLATE
expressions).  Spark-first rewrite:

    bounds → sequence() → explode → left-anti-aware left join → window
    last(ignorenulls) for INTERPOLATE.

The generated spine is tiny relative to data (one row per step), and the
join on the fill column is a normal equi-join Catalyst can broadcast when
the spine is small — which it essentially always is.
"""

from __future__ import annotations

import calendar
import datetime as _dt
import decimal as _decimal
import re
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def with_fill(
    df: DataFrame,
    fill_col: str,
    step: int | float | str = 1,
    from_val=None,
    to_val=None,
    partition: Sequence[str] = (),
    interpolate: Mapping[str, str] | None = None,
) -> DataFrame:
    """Fill missing values of ``fill_col`` in an arithmetic progression.

    ``step`` is numeric for numeric fill columns, or an interval string
    (e.g. ``'1 day'``) for date/timestamp columns.  ``from_val``/``to_val``
    default to the observed min/max (per partition when ``partition``
    given).  ``interpolate`` maps column → strategy, currently
    ``'prev'`` (last non-null previous value, the reference's default
    INTERPOLATE behavior for a bare column).

    Missing rows carry NULL in all non-interpolated columns.
    """
    partition = list(partition)
    is_interval = isinstance(step, str)
    step_expr = F.expr(f"interval {step}") if is_interval else F.lit(step)

    # Per-partition (or global) bounds.
    bounds = (df.groupBy(*partition) if partition else df.groupBy()).agg(
        F.min(fill_col).alias("__lo"), F.max(fill_col).alias("__hi"))
    if from_val is not None:
        bounds = bounds.withColumn("__lo", F.lit(from_val).cast(df.schema[fill_col].dataType))
    if to_val is not None:
        bounds = bounds.withColumn("__hi", F.lit(to_val).cast(df.schema[fill_col].dataType))

    ftype = df.schema[fill_col].dataType.simpleString()
    if ftype in ("float", "double"):
        # sequence() takes integral/temporal bounds — generate the
        # float progression as lo + i*step over an integer index
        n = F.floor((F.col("__hi") - F.col("__lo")) / F.lit(step)) \
            .cast("long")
        spine = (bounds
                 .select(*partition, "__lo",
                         F.explode(F.sequence(F.lit(0).cast("long"), n))
                         .alias("__i"))
                 .select(*partition,
                         (F.col("__lo") + F.col("__i") * F.lit(step))
                         .cast(ftype).alias(fill_col)))
    else:
        spine = bounds.select(
            *partition,
            F.explode(F.sequence(F.col("__lo"), F.col("__hi"),
                                 step_expr)).alias(fill_col))

    joined = spine.join(df, on=partition + [fill_col], how="left")

    if interpolate:
        w = (Window.partitionBy(*partition) if partition else Window.partitionBy(F.lit(1)))
        w = w.orderBy(fill_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        for col, how in interpolate.items():
            if how != "prev":
                raise NotImplementedError(f"interpolate strategy {how!r}")
            joined = joined.withColumn(col, F.last(col, ignorenulls=True).over(w))
    return joined.orderBy(*partition, fill_col)


# --------------------------------------------------------------------
# Reference-faithful FillingTransform
# (src/Processors/Transforms/FillingTransform.h, FillingRow.cpp)
# --------------------------------------------------------------------

def _py_type_default(dtype):
    """The reference's non-Nullable column default in python terms."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                          T.LongType)):
        return 0
    if isinstance(dtype, T.DecimalType):
        return _decimal.Decimal(0)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return 0.0
    if isinstance(dtype, T.StringType):
        return ""
    if isinstance(dtype, T.BooleanType):
        return False
    if isinstance(dtype, T.DateType):
        return _dt.date(1970, 1, 1)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return _dt.datetime(1970, 1, 1)
    if isinstance(dtype, T.ArrayType):
        return []
    return None


def _add_months(d, m: int):
    y = d.year + (d.month - 1 + m) // 12
    mo = (d.month - 1 + m) % 12 + 1
    day = min(d.day, calendar.monthrange(y, mo)[1])
    return d.replace(year=y, month=mo, day=day)


def _make_adder(step, desc: bool, dtype):
    """value -> value advanced one fill step in the sort direction.
    Numeric steps on Date mean DAYS, on DateTime mean SECONDS
    (FillingRow uses the type's scale unit); interval-string steps
    ('1 day', 'INTERVAL 1 MONTH') use calendar arithmetic."""
    is_date = isinstance(dtype, T.DateType)
    is_ts = isinstance(dtype, (T.TimestampType, T.TimestampNTZType))
    if isinstance(step, str):
        m = re.match(r"(?i)\s*(?:interval\s+)?(-?\d+)\s*([a-z]+?)s?\s*$",
                     step)
        if m is None:
            raise ValueError(f"WITH FILL STEP {step!r} not parseable")
        n, unit = int(m.group(1)), m.group(2).lower()
        if desc and n > 0:
            n = -n
        deltas = {"day": _dt.timedelta(days=1),
                  "hour": _dt.timedelta(hours=1),
                  "minute": _dt.timedelta(minutes=1),
                  "second": _dt.timedelta(seconds=1),
                  "week": _dt.timedelta(days=7)}
        if unit in deltas:
            delta = n * deltas[unit]
            return lambda v: v + delta
        months = {"month": 1, "quarter": 3, "year": 12}.get(unit)
        if months is None:
            raise ValueError(f"WITH FILL STEP unit {unit!r}")
        return lambda v: _add_months(v, n * months)
    if step == 0:
        raise ValueError("WITH FILL STEP must be non-zero")
    eff = -step if (desc and step > 0) else step
    if is_date:
        delta = _dt.timedelta(days=eff)
        return lambda v: v + delta
    if is_ts:
        delta = _dt.timedelta(seconds=eff)
        return lambda v: v + delta
    return lambda v: v + eff


def filling_transform(df: DataFrame, specs, prefix=(), order_all=None,
                      interpolate=None,
                      use_defaults: bool = True) -> DataFrame:
    """ROW-ANCHORED ``ORDER BY ... WITH FILL`` — a faithful
    re-implementation of the reference's FillingTransform
    (src/Processors/Transforms/FillingTransform.h, FillingRow::next):

    - between each pair of consecutive sorted rows the filling tuple
      advances lexicographically over the fill keys, one generated row
      per step;
    - a less-significant key only advances mid-gap when it carries an
      explicit TO bound; otherwise it RESTARTS (FROM or type default)
      each time a more significant key advances;
    - FROM seeds a leading fill before the first row; TO generates a
      trailing fill after the last row; TO is EXCLUSIVE;
    - non-fill columns of generated rows take their TYPE DEFAULTS
      (0 / '' / epoch — the reference's non-Nullable semantics) when
      ``use_defaults``, else NULL;
    - ``interpolate``: {col: None | expr} — None carries the previous
      output row's value; an expression of the form ``col (+|-|*|/)
      literal`` is applied to the previous output row.

    Execution shape: one applyInPandas group per distinct non-filled
    sort PREFIX; with no prefix the whole result is ONE group — the
    same single-stream shape the reference itself uses (FillingTransform
    runs after the final sort on the client-bound result, so the input
    is presentation-sized by construction, not scan-sized).

    ``specs``: sequence of (col, step, from_val, to_val, desc).
    """
    prefix = [c for c, _d in (prefix or [])]
    cols = [s[0] for s in specs]
    schema = df.schema
    out_fields = [T.StructField(f.name, f.dataType, True)
                  for f in schema.fields]
    out_schema = T.StructType(out_fields)
    other_cols = [f.name for f in schema.fields
                  if f.name not in cols and f.name not in prefix]
    defaults = {
        f.name: (_py_type_default(f.dataType) if use_defaults else None)
        for f in schema.fields}
    dtypes = {f.name: f.dataType for f in schema.fields}

    n = len(specs)
    descs = [bool(s[4]) for s in specs]

    def _coerce_bound(v, dtype):
        # FROM/TO literals parse as python date/datetime; the pandas
        # column may carry the other temporal flavor
        if v is None:
            return None
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)) \
                and isinstance(v, _dt.date) \
                and not isinstance(v, _dt.datetime):
            return _dt.datetime(v.year, v.month, v.day)
        if isinstance(dtype, T.DateType) and isinstance(v, _dt.datetime):
            return v.date()
        return v

    froms = [_coerce_bound(s[2], dtypes[s[0]]) for s in specs]
    tos = [_coerce_bound(s[3], dtypes[s[0]]) for s in specs]
    stales = [s[5] if len(s) > 5 else None for s in specs]
    adders = [_make_adder(s[1] if s[1] is not None else 1, descs[i],
                          dtypes[cols[i]])
              for i, s in enumerate(specs)]
    stale_adders = [
        _make_adder(stales[i], descs[i], dtypes[cols[i]])
        if stales[i] is not None else None
        for i in range(n)]
    # initFromDefaults: a restarted key takes FROM when given, else
    # stays NULL — a NULL fill key never advances and DISPLAYS as the
    # column's type default (FillingRow::initFromDefaults +
    # insertFromFillingRow)
    restarts = [froms[i] for i in range(n)]
    interp = dict(interpolate or {})

    def less(i, a, b):
        if a is None or b is None:
            return False
        return (a > b) if descs[i] else (a < b)

    def interp_value(col, prev_row):
        expr = interp[col]
        pv = prev_row.get(col)
        if expr is None:
            return pv
        m = re.match(r"\s*`?(\w+)`?\s*([-+*/])\s*([-\d.]+)\s*$", expr)
        if m and m.group(1) == col and pv is not None:
            k = float(m.group(3)) if "." in m.group(3) \
                else int(m.group(3))
            op = m.group(2)
            try:
                return (pv + k if op == "+" else pv - k if op == "-"
                        else pv * k if op == "*" else pv / k)
            except Exception:
                return pv
        # string concat: col || 'lit'  /  concat(col, 'lit')
        m = re.match(r"\s*`?(\w+)`?\s*\|\|\s*'([^']*)'\s*$", expr)
        if m is None:
            m = re.match(r"(?i)\s*concat\s*\(\s*`?(\w+)`?\s*,"
                         r"\s*'([^']*)'\s*\)\s*$", expr)
        if m and m.group(1) == col and isinstance(pv, str):
            return pv + m.group(2)
        return pv

    def fill_group(pdf):
        import pandas as pd
        by = cols[:]
        asc = [not d for d in descs]
        pdf = pdf.sort_values(by=by, ascending=asc, kind="mergesort")
        pvals = {c: (pdf[c].iloc[0] if len(pdf) else None)
                 for c in prefix}
        out_rows = []

        def emit_fill(fill):
            row = {c: pvals[c] for c in prefix}
            for i, c in enumerate(cols):
                if fill[i] is None:
                    row[c] = (_py_type_default(dtypes[c])
                              if use_defaults else None)
                else:
                    row[c] = fill[i]
            # the reference seeds INTERPOLATE on the column DEFAULT
            # when there is no previous output row yet
            prev = out_rows[-1] if out_rows \
                else {c: _py_type_default(dtypes[c])
                      for c in other_cols}
            star = "*" in interp      # bare INTERPOLATE: carry all
            for c in other_cols:
                if c in interp:
                    row[c] = interp_value(c, prev)
                elif star:
                    row[c] = prev.get(c)
                else:
                    row[c] = defaults[c]
            out_rows.append(row)

        anchor = [None] * n

        def init_deeper(fill, k):
            for j in range(k + 1, n):
                fill[j] = restarts[j]

        def capped(i, nxt):
            """doJump bound checks: TO (exclusive), STALENESS window
            from the last original row, FROM as a lower bound."""
            if tos[i] is not None and not less(i, nxt, tos[i]):
                return True
            if stale_adders[i] is not None and anchor[i] is not None \
                    and not less(i, nxt, stale_adders[i](anchor[i])):
                return True
            if froms[i] is not None and less(i, nxt, froms[i]):
                return True
            return False

        def advance(fill, target):
            """FillingRow::next — 0 stop, 1 emit a generated row,
            2 snapped onto the target value (no row)."""
            pos = None
            for i in range(n):
                if fill[i] is not None and target[i] is not None \
                        and fill[i] != target[i]:
                    pos = i
                    break
            if pos is None:
                return 0
            if less(pos, target[pos], fill[pos]):
                return 0
            # a LESS significant key advances mid-gap only while its
            # own TO bound has room
            for i in range(n - 1, pos, -1):
                if tos[i] is None or fill[i] is None:
                    continue
                nxt = adders[i](fill[i])
                if not capped(i, nxt):
                    fill[i] = nxt
                    init_deeper(fill, i)
                    return 1
            nxt = adders[pos](fill[pos])
            if capped(pos, nxt):
                return 0
            if less(pos, nxt, target[pos]):
                fill[pos] = nxt
                init_deeper(fill, pos)
                return 1
            if nxt == target[pos]:
                # land exactly on the target: the filling row moves but
                # the ORIGINAL row supplies the output
                fill[pos] = nxt
                init_deeper(fill, pos)
                return 2
            return 0

        def lex_less(fill, target):
            for i in range(n):
                if fill[i] is None or target[i] is None:
                    continue
                if fill[i] != target[i]:
                    return less(i, fill[i], target[i])
            return False

        fill = None
        insert_first = False
        for rd in pdf.to_dict("records"):
            target = [rd[c] for c in cols]
            if any(v is None or (isinstance(v, float) and v != v)
                   for v in target):
                out_rows.append(dict(rd))
                continue
            if fill is None:
                # seed: FROM where given, the first row's value where
                # not (observed reference behavior on no-FROM keys)
                fill = [froms[i] if froms[i] is not None else target[i]
                        for i in range(n)]
                if lex_less(fill, target):
                    emit_fill(list(fill))
                else:
                    # FROM ahead of the first row — the seed value is
                    # output before the first row that passes it
                    # (FillingTransform should_insert_first)
                    insert_first = True
            elif insert_first and lex_less(fill, target):
                emit_fill(list(fill))
                insert_first = False
            guard = 0
            while True:
                rstate = advance(fill, target)
                if rstate == 0:
                    break
                guard += 1
                if guard > 1000000:
                    raise ValueError(
                        "WITH FILL generated over 1e6 rows in one gap")
                if rstate == 1:
                    emit_fill(list(fill))
                elif rstate == 2 and lex_less(fill, target):
                    # landing exactly on the target RESTARTS deeper
                    # keys (init_deeper) — the restarted tuple is a
                    # generated row of its own when still before the
                    # target (golden 02019: x 4→5 re-emits -x=-10)
                    emit_fill(list(fill))
            out_rows.append(dict(rd))
            # the fill progression is NOT re-anchored on off-grid
            # originals; only STALENESS anchors to the original row
            anchor = list(target)
            if not lex_less(target, fill):
                insert_first = False
        # suffix fill toward TO / STALENESS bounds after the last row
        if fill is not None and (any(t is not None for t in tos)
                                 or any(st is not None
                                        for st in stales)):
            guard = 0
            while guard < 1000000:
                guard += 1
                advanced = False
                for i in range(n - 1, -1, -1):
                    if fill[i] is None:
                        continue
                    if tos[i] is None and stale_adders[i] is None:
                        continue
                    nxt = adders[i](fill[i])
                    if not capped(i, nxt):
                        fill[i] = nxt
                        init_deeper(fill, i)
                        emit_fill(list(fill))
                        advanced = True
                        break
                if not advanced:
                    break
        out = pd.DataFrame(out_rows, columns=list(pdf.columns))
        # generation order IS the reference's output order
        # (FillingTransform runs AFTER the sort; generated rows
        # interleave with originals in fill-key order, and a final
        # re-sort over intermediate non-fill keys would displace the
        # original rows — golden 02019)
        out["__fseq"] = range(len(out))
        return out

    seq_field = T.StructField("__fseq", T.LongType(), True)
    out_schema2 = T.StructType(out_fields + [seq_field])
    if prefix:
        result = df.groupBy(*prefix).applyInPandas(
            lambda pdf: fill_group(pdf).reindex(
                columns=[f.name for f in out_fields] + ["__fseq"]),
            schema=out_schema2)
    else:
        result = df.withColumn("__g", F.lit(1)).groupBy("__g") \
            .applyInPandas(
                lambda pdf: fill_group(
                    pdf.drop(columns=["__g"])).reindex(
                        columns=[f.name for f in out_fields]
                        + ["__fseq"]),
                schema=out_schema2)
    if order_all is None:
        order_all = [(c, d) for c, d in zip(cols, descs)]
    pdirs = dict(order_all)
    order = [F.col(c).desc() if pdirs.get(c) else F.col(c).asc()
             for c in prefix]
    order.append(F.col("__fseq").asc())
    return result.orderBy(*order).drop("__fseq")

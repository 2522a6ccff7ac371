"""The one bounded driver collect, and the id filter built on it.

An operator that needs a small intermediate on the driver (the skew
split's giant ids, the LSH verify's candidate pairs, the CC fast path's
edges) takes it through :func:`collect_bounded`, which fetches at most
``COLLECT_BUDGET`` rows in one job and answers ``None`` past that — the
caller then stays distributed.  :func:`filter_ids` turns what came back
(or, over budget, the uncollected id DataFrame) into a row filter.

Both budgets are read at call time, so a test can move either one to
force a fallback path (``tests/conftest.py::budgets``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

# rows one driver collect may bring back; callers collect narrow id rows
COLLECT_BUDGET = 1_000_000

# Ids up to which the filter is a rendered SQL ``IN`` (one parse, pushed
# into the parquet scan as ``In(doc_id, …)``) rather than a broadcast
# semi/anti join against a LocalRelation.  The parse grows with the
# list; the join costs a fixed broadcast.  Measured crossover between
# 1k and 2k ids (warm build + run, median of 6, local[4] on 4 vCPUs):
# - the Jaccard verify over the sf0.1 MinHash corpus, long ids: IN
#   1.37 vs join 1.40 s at 1k ids, 1.63 vs 1.59 s at 2k, 2.10 vs 1.79 s
#   at 4k;
# - a 100k-row parquet table, string ids: 0.23 vs 0.27 s at 1k, 0.25
#   vs 0.22 s at 2k, 0.36 vs 0.23 s at 4k.
IN_LIST_BUDGET = 1_000


def collect_bounded(df: DataFrame) -> list | None:
    """The rows of ``df``, or ``None`` when it has more than
    ``COLLECT_BUDGET`` — one ``limit(budget + 1)`` job either way."""
    budget = COLLECT_BUDGET
    rows = df.limit(budget + 1).collect()
    return rows if len(rows) <= budget else None


def local_df(spark, rows: list, schema: T.StructType) -> DataFrame:
    """LocalRelation for collected rows — via pandas, so the conversion
    rides Arrow (one buffer) instead of pickling row tuples through py4j
    (~1 s of driver time at a few thousand rows).  Id types other than
    long/int/string take the plain list path, which keeps their values
    exact."""
    simple = all(
        isinstance(f.dataType, (T.LongType, T.IntegerType, T.StringType))
        for f in schema.fields
    )
    if simple and rows:
        pdf = pd.DataFrame(rows, columns=[f.name for f in schema.fields])
        return spark.createDataFrame(pdf, schema=schema)
    return spark.createDataFrame(rows, schema=schema)


def _sql_literal(v) -> str:
    # strings go through their UTF-8 bytes: the spelling then needs no
    # escaping and does not depend on the parser's escape conf
    if isinstance(v, str):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    return str(v)


def filter_ids(
    df: DataFrame, id_col: str, ids: list | DataFrame, anti: bool = False
) -> DataFrame:
    """Rows of ``df`` whose ``id_col`` is in ``ids`` (``anti``: is not).

    ``ids`` is a collected list, or a one-column DataFrame when the list
    was over budget.  Up to ``IN_LIST_BUDGET`` int or str ids the filter
    is one rendered ``IN`` (one py4j call whatever the id count —
    ``Column.isin`` pays one per id); otherwise a broadcast left-semi or
    left-anti join.  A null id never matches, so the anti form keeps
    null-id rows, as ``left_anti`` does.
    """
    if not isinstance(ids, DataFrame):
        vals = [v for v in ids if v is not None]
        rendered = len(vals) <= IN_LIST_BUDGET and (
            all(isinstance(v, str) for v in vals)
            or all(isinstance(v, int) and not isinstance(v, bool) for v in vals)
        )
        if rendered:
            if not vals:
                return df if anti else df.filter(F.lit(False))
            col = f"`{id_col}`"
            pred = f"{col} IN ({','.join(_sql_literal(v) for v in vals)})"
            if anti:
                pred = f"{col} IS NULL OR NOT ({pred})"
            return df.filter(F.expr(pred))
        ids = local_df(
            df.sparkSession,
            [(v,) for v in vals],
            T.StructType([T.StructField(id_col, df.schema[id_col].dataType)]),
        )
    keys = ids.select(F.col(ids.columns[0]).alias(id_col))
    return df.join(F.broadcast(keys), id_col, "left_anti" if anti else "left_semi")

"""Advanced analytic operators the reference lacks but an OLAP-capable
engine needs: sessionization, hierarchical rollup, and as-of joins —
each expressed with built-in DataFrame ops (codegen'd; no UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def sessionize(events: DataFrame) -> DataFrame:
    """Assign session ids per ``user_id``: a new session starts when the
    gap to the previous event's ``ts`` exceeds 30 minutes (lag +
    conditional cumsum — the classic window formulation;
    `session_window` covers the streaming case)."""
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    epoch = F.unix_timestamp(F.col("ts"))
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0))
    return events.withColumn(
        "session_id", F.sum(is_new).over(w).cast("bigint")
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Per-session aggregates over the sessionized stream."""
    s = sessionize(events)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (
            F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))
        ).alias("duration_sec"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
    )


def rollup_order_revenue(orders: DataFrame) -> DataFrame:
    """Hierarchical totals: ROLLUP(priority, status) — subtotals per
    priority and a grand total, one pass (grouping-sets expansion is
    map-side, no extra shuffle per level)."""
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "revenue_cents"
        ),
    )


def asof_join_events_orders(events: DataFrame, orders: DataFrame) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY/pyspark guide): for
    each event, the most recent order with the same key (``user_id`` or
    ``o_custkey`` mod 100) at or before the event time.

    Implementation: the union-and-carry pattern — tag both streams,
    union, and a running ``last(..., ignorenulls)`` window carries the
    latest order forward onto each event row.  One shuffle on the key,
    no row explosion, no per-group pandas — scales to arbitrarily many
    quotes per key (unlike merge_asof-per-group, which needs the whole
    group in memory)."""
    key_mod = 100
    ev = events.select(
        (F.col("user_id") % key_mod).alias("k"),
        F.col("ts").alias("t"),
        F.col("event_id"),
        F.lit(None).cast("bigint").alias("o_key"),
        F.lit(1).alias("is_event"),
    )
    # dedupe quotes to one per (key, timestamp) so ties are deterministic
    ow = W.partitionBy(
        (F.col("o_custkey") % key_mod), F.col("o_orderdate")
    ).orderBy(F.col("o_orderkey").desc())
    od = (
        orders.withColumn("rn", F.row_number().over(ow))
        .filter(F.col("rn") == 1)
        .select(
            (F.col("o_custkey") % key_mod).alias("k"),
            F.col("o_orderdate").alias("t"),
            F.lit(None).cast("bigint").alias("event_id"),
            F.col("o_orderkey").alias("o_key"),
            F.lit(0).alias("is_event"),
        )
    )
    unioned = ev.unionByName(od)
    w = W.partitionBy("k").orderBy(
        F.col("t"), F.col("is_event")
    ).rowsBetween(W.unboundedPreceding, 0)
    carried = unioned.withColumn(
        "matched_orderkey", F.last("o_key", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("is_event") == 1).select(
        "event_id", F.col("k").alias("key"), "matched_orderkey"
    )

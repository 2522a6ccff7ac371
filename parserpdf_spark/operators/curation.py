"""The corpus-curation funnel: quality gate → exact dedup → stratified
sample, composed from the engine's oracled primitives — the end-to-end
shape a training-data pipeline runs over extracted text (each stage is
individually gated elsewhere; this operator chains them and reports the
funnel counts, the number every curation run is judged by).

One lazy plan of row flags, each implying the one before; all are
deterministic (no RNG, no partitioning sensitivity), so the curated doc
set is reproducible run-to-run and engine-to-engine:

- ``keep``: the Gopher-rule gate (textops.gopher_keep)
- ``canonical``: the min-doc_id kept copy per distinct text (one
  window, dedup.keep_min_copy)
- ``sampled``: md5 hash-threshold per stratum (dedup.sample_keep)

The stage counts are one aggregate over the flags (or an Observation
on the plan the caller runs), never a second pass over the docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from parserpdf_spark.operators.dedup import keep_min_copy, sample_keep
from parserpdf_spark.operators.textops import gopher_keep

# funnel stage → the flag its rows carry (raw counts every row)
STAGES = {"1_raw": None, "2_quality": "keep", "3_dedup": "canonical",
          "4_sample": "sampled"}


def flag_stages(
    docs: DataFrame, fractions: dict[str, float], default_fraction: float = 0.0
) -> DataFrame:
    """(doc_id, text, lang, …) docs plus the three stage flags."""
    return (
        docs.withColumn("keep", gopher_keep())
        .withColumn("canonical", keep_min_copy(F.col("keep")))
        .withColumn("sampled",
                    F.col("canonical") & sample_keep(fractions, default_fraction))
    )


def funnel_counts() -> list:
    """Per-stage counts over :func:`flag_stages` rows, named by stage."""
    return [(F.count_if(flag) if flag else F.count(F.lit(1))).alias(stage)
            for stage, flag in STAGES.items()]


def curate(
    docs: DataFrame, fractions: dict[str, float]
) -> tuple[DataFrame, DataFrame]:
    """(curated_docs, funnel) — curated rows plus per-stage counts; a
    stratum ``fractions`` does not name keeps nothing.

    ``funnel`` is (stage string, n_docs bigint) for
    raw → quality → dedup → sample, each stage applied to the previous
    stage's survivors: one aggregate, so collecting it reads ``docs``
    once.  Both are lazy plans.
    """
    flagged = flag_stages(docs, fractions)
    funnel = flagged.agg(*funnel_counts()).select(F.stack(
        F.lit(len(STAGES)), *(c for s in STAGES for c in (F.lit(s), F.col(s)))
    ).alias("stage", "n_docs"))
    return flagged.filter("sampled").drop("keep", "canonical", "sampled"), funnel


def pack_shards(docs: DataFrame, shard_tokens: int) -> DataFrame:
    """Assign docs to fixed-budget training shards: ``docs`` plus
    ``n_tokens`` and ``shard_id`` = floor(tokens before the doc /
    budget), the running total in doc_id order within each ``lang``.

    Each lang packs under its own ``partitionBy("lang")`` window, so
    strata sort in parallel and no task ever sees the whole corpus.
    The order makes packing reproducible (training-data shards must be
    stable across reruns); a doc larger than the budget still lands in
    exactly one shard.
    """
    toks = F.size(F.filter(F.split("text", " "), lambda x: x != F.lit("")))
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    before = F.coalesce(F.sum(toks).over(w), F.lit(0).cast("bigint"))
    return docs.select(
        "*",
        toks.cast("bigint").alias("n_tokens"),
        F.floor(before / F.lit(int(shard_tokens))).cast("int").alias("shard_id"),
    )

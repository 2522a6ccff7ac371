"""Extra benchmarks for optimization work (guide §1.4): per-query
noop-sink isolation + ``explain("formatted")`` capture.

``bench.py`` is the frozen driver contract; this file exists so plan
captures and isolated timings never touch it.

Usage:
    python bench_extra.py --queries minhash_lsh_pairs,embedding_dups_bucketed \
        --explain-dir plans/r06 --suffix before --runs 3
    python bench_extra.py --all-headline --suffix after

Timing methodology: noop sink (computes every column, discards output),
one warm-up run then min-of-N — same contention protocol as bench.py —
with the session's cache cleared before every build.
``extract_stored_table`` and ``cc_star_persisted_pairs`` are the two
bench-only entries (not in queries()); they reuse bench.py's helpers.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

HEADLINE = [
    "minhash_lsh_pairs",
    "embedding_dups_bucketed",
    "extract_full",
    "extract_order_checksum",
    "pricing_summary",
    "broadcast_join_segments",
    "window_topk",
    "event_hour_rollup",
    "dedup_exact",
]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--all-headline", action="store_true")
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--suffix", default="")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-time", action="store_true",
                    help="explain capture only")
    args = ap.parse_args()

    import bench
    import __spark_entry__ as entry_mod
    from parserpdf_spark.session import get_spark

    spark = get_spark(cores=CPUS, app_name="bench_extra")
    qmap = entry_mod.queries()

    names = [n for n in args.queries.split(",") if n]
    if args.all_headline:
        names = HEADLINE + ["extract_stored_table", "cc_star_persisted_pairs"]

    def build(name):
        if name == "extract_stored_table":
            from parserpdf_spark.operators.extract import extract_combined

            path = bench.ensure_docs_table(spark, SF_DIR, bench.REPLICATE)
            return extract_combined(spark.read.parquet(path))
        if name == "cc_star_persisted_pairs":
            # the pairs table is the persisted production input; building
            # the DataFrame runs the iterative job eagerly, so "timing"
            # wraps the build too (see time loop below).  Round-count
            # visibility (VERDICT r5 item 6) reports here because
            # bench.py is frozen for measurement.
            from parserpdf_spark.operators.dedup import connected_components_star

            path = bench.ensure_pairs_table(spark, SF_DIR)
            stats: dict = {}
            df = connected_components_star(
                spark.read.parquet(path), stats=stats
            )
            out["cc_rounds"] = stats.get("cc_rounds")
            out["cc_edges"] = stats.get("cc_edges")
            return df
        return qmap[name](spark, SF_DIR)

    out: dict[str, object] = {"sf": SF_DIR, "cpus": int(CPUS), "runs": args.runs}
    timings: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if args.explain_dir:
            import contextlib
            import io

            os.makedirs(args.explain_dir, exist_ok=True)
            df = build(name)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            suffix = f"_{args.suffix}" if args.suffix else ""
            with open(
                os.path.join(args.explain_dir, f"{name}{suffix}.txt"), "w"
            ) as f:
                f.write(buf.getvalue())
        if args.no_time:
            continue
        # warm-up (codegen + python worker spawn), then min-of-N; every
        # build starts with an empty cache, so anything an operator
        # persists is not timed as a hit
        spark.catalog.clearCache()
        noop(build(name))
        best = None
        for _ in range(args.runs):
            spark.catalog.clearCache()
            t0 = time.time()
            noop(build(name))
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)
    out["queries"] = timings
    out["total"] = round(sum(timings.values()), 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

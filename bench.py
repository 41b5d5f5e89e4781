"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes fully via the noop sink (no driver collect, no
column pruning of the measured expressions).  Additive keys: ``spread``
(max - min of a query's five timed runs) and ``codegen_compiles``
(generated classes compiled during them; 0 once the warm-ups have
filled the codegen cache).  Set SPARK_GRAFT_QUERIES to a
comma-separated subset to bench specific queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from idn_area_etl_spark.plans import all_specs  # noqa: E402
from idn_area_etl_spark.session import compiled_classes, get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    specs = all_specs()
    wanted = os.environ.get("SPARK_GRAFT_QUERIES")
    if wanted:
        names = [n.strip() for n in wanted.split(",") if n.strip()]
    else:
        names = [n for n, s in specs.items() if s.headline]

    spark = get_spark(app_name="bench")
    # JIT/classloader warmup so the first measured query isn't charged
    # for one-time JVM costs
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).agg(
        {"l_quantity": "sum"}
    ).collect()

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    compiles: dict[str, int] = {}
    for name in names:
        builder = specs[name].builder
        # two untimed warmups, then best-of-5: C2 JIT of generated
        # whole-stage code makes the first 1-2 runs of a query shape
        # 2-10x slower, so timing from cold makes a query's reported
        # number depend on its POSITION in the bench order (r1->r2
        # "regressions" of q_events_* were exactly this — steady state
        # was unchanged at 10 in-process iterations)
        for _ in range(2):
            builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs = []
        compiles_before = compiled_classes(spark)
        for _ in range(5):
            df = builder(spark, sf_dir)
            start = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - start)
        timings[name] = round(min(runs), 3)
        # per-query spread (max-min of the 5 timed runs): lets a reader
        # separate host noise from real regressions mechanically
        # (VERDICT r8 item 7).  Additive top-level key — the `queries`
        # map stays exactly query -> best-of-5 seconds.
        spreads[name] = round(max(runs) - min(runs), 3)
        compiles[name] = compiled_classes(spark) - compiles_before

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spreads,
                "codegen_compiles": compiles,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

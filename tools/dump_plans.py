"""Dump .explain("formatted") for selected (default: headline) queries.

Usage:
    python tools/dump_plans.py <outdir> <suffix> [query ...]

Writes <outdir>/<query>_<suffix>.txt for each query.  Plan-only — no
job is executed (AQE plans print isFinalPlan=false; that is fine for
shape auditing: Exchange count, join strategy, PushedFilters,
ReadSchema, codegen spans, Python eval nodes).

Catalyst expression ids and exchange plan ids are normalized
(``doc_id#123L`` is written as ``doc_id#L``, ``[plan_id=42]`` as
``[plan_id=]``): they count up across the session, so without this two
dumps of the same plan differ on almost every line.  Normalized, dumps
from two commits can be compared with ``diff``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

from idn_area_etl_spark.plans import all_specs  # noqa: E402
from idn_area_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    specs = all_specs()
    if not names:
        names = [n for n, s in specs.items() if s.headline]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="dump_plans")
    for name in names:
        df = specs[name].builder(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        plan = re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+", "#", plan))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()

"""Dump `.explain("formatted")` physical plans for named queries to files.

Round-11 optimization deliverable: `plans/r11/<query>_{before,after}.txt`
so plan claims (Exchange counts, join strategy, PushedFilters, Python
eval nodes) are checkable without running Spark.

Usage: python tools/dump_plans.py <sf_dir> <out_dir> <suffix> <query> [...]
  e.g. python tools/dump_plans.py /root/testdata/sf0.1 plans/r11 before \
         events_user_gini dedup_semantic_docs
Writes <out_dir>/<query>_<suffix>.txt per query.

Some queries hide their interesting subtree from their own dump. Those that
``localCheckpoint`` mid-pipeline truncate it at ``Scan ExistingRDD``
(VERDICT r11 item 9); ``dq_suite_report`` builds its report on the driver,
so its dump is a bare ``LocalRelation``. For those, EXTRA_FRAMES registers
the frames that do the work, built by the package's own builders (the
pre-checkpoint frames; the suite's factor frames, built from
``checks.runner.plan_suite``'s factors), dumped as <query>__<frame>_<suffix>.txt
whenever the query itself is requested.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from enterprise_data_quality_platform_spark.catalog import table  # noqa: E402
from enterprise_data_quality_platform_spark.checks.runner import plan_suite  # noqa: E402
from enterprise_data_quality_platform_spark.queries.dedup_ops import (  # noqa: E402
    semantic_pairs,
)
from enterprise_data_quality_platform_spark.queries.dq import (  # noqa: E402
    _SUITE,
    suite_tables,
)
from enterprise_data_quality_platform_spark.queries.relational import (  # noqa: E402
    copurchase_superstep,
)


def suite_factors(spark, sf_dir):
    plan = plan_suite(suite_tables(spark, sf_dir), _SUITE)
    return [(f.name, f.build()) for f in plan.factors]


#: query -> builder(spark, sf_dir) -> [(frame_label, frame)] to dump beside it.
EXTRA_FRAMES = {
    "dedup_semantic_docs": lambda spark, sf: [
        ("pairs", semantic_pairs(table(spark, sf, "embeddings"), sf))
    ],
    "mart_copurchase_pagerank": lambda spark, sf: [
        ("superstep", copurchase_superstep(spark, sf))
    ],
    "dq_suite_report": suite_factors,
}


def main() -> None:
    sf_dir, out_dir, suffix, names = (
        sys.argv[1],
        sys.argv[2],
        sys.argv[3],
        sys.argv[4:],
    )
    from enterprise_data_quality_platform_spark.queries import query_fns
    from enterprise_data_quality_platform_spark.session import get_spark

    spark = get_spark("edqp-dump-plans")
    fns = query_fns()
    os.makedirs(out_dir, exist_ok=True)
    def dump(df, fname):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, fname)
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")

    for name in names:
        dump(fns[name](spark, sf_dir), f"{name}_{suffix}.txt")
        for label, frame in EXTRA_FRAMES.get(name, lambda *_: [])(spark, sf_dir):
            dump(frame, f"{name}__{label}_{suffix}.txt")


if __name__ == "__main__":
    main()

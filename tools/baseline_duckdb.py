"""Time the DuckDB oracle side of the headline queries at a given sf_dir —
the BASELINE.md companion to bench.py, so both engines run IDENTICAL query
text on identical data at the same scale (BASELINE.md's re-measure rule).

Usage: python tools/baseline_duckdb.py [sf_dir] [runs]
Prints one JSON line shaped like bench.py's.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

from bench import HEADLINE  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from enterprise_data_quality_platform_spark.queries.registry import (
        oracle_connection,
        oracle_sqls,
    )

    # bind file-path oracles to the tier the views read
    oracles = oracle_sqls(sf_dir)
    con = oracle_connection(sf_dir)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in oracles:
            continue  # rows-only queries have no oracle twin to time
        sql = oracles[name]
        con.execute(sql).fetchall()  # warm
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 4)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_total_wall",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "runs_per_query": runs,
            }
        )
    )


if __name__ == "__main__":
    main()
